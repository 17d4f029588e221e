"""Distributed connected components: large-star/small-star
(public Kiveris et al. "Connected Components in MapReduce and Beyond",
SoCC'14) — O(log² n) rounds regardless of component diameter, unlike
plain min-label propagation whose round count equals the diameter.

Used by llm_dedup.l18_dedup_clusters (near-dup clustering); verified
exactly against a DuckDB recursive-reachability oracle there, and
against a deep chain graph (diameter >> propagation bounds) in
tests/test_llm.py.

Each round is two grouped-min + join passes over the edge set — plain
shuffles on node ids, no driver-side state beyond the convergence
check.  A required pin (ephemeral_cache) truncates the iterative
lineage every round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._cache import ephemeral_cache


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(Γ(u) ∪ {u}).  Input/output: undirected edge set as (u, v)."""
    nbr = edges.select("u", "v").unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = (
        nbr.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("mn", "u").alias("m"))
    )
    return (
        nbr.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges toward the smaller endpoint; for each center u,
    connect all smaller neighbors (and u itself) to the minimum."""
    nbr = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = nbr.groupBy("u").agg(F.min("v").alias("m"))
    linked = nbr.join(mins, "u")
    reattach = linked.select(F.col("v").alias("u"), F.col("m").alias("v"))
    center = mins.select("u", F.col("m").alias("v"))
    return (
        reattach.unionByName(center)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_rounds: int = 50
) -> DataFrame:
    """Connected components of an undirected graph.

    ``nodes``: one column ``id`` (every vertex, including isolated
    ones).  ``edges``: columns ``u``, ``v``.  Returns ``(id,
    cluster_id)`` with cluster_id = min node id in the component.

    Alternates large-star/small-star until the edge set reaches its
    fixed point (a union of stars centered on component minima) —
    provably O(log² n) rounds, so deep-diameter chains converge where
    label propagation would need diameter rounds."""
    edges = ephemeral_cache(
        edges.select("u", "v").filter(F.col("u") != F.col("v")).distinct(),
        required=True,
    )
    n_edges = edges.count()
    converged = False
    for _ in range(max_rounds):
        after = ephemeral_cache(
            _small_star(_large_star(edges)), required=True
        )
        n_after = after.count()
        # fixed point ⇔ same edge set. Both sides are DISTINCT sets
        # (stars end in .distinct()), so equal counts + empty anti-join
        # ⇔ equality — exact. r12: the previous subtract() planned an
        # EXCEPT (anti-join + an extra distinct of the left side, ~2×
        # the anti-join's cost per round), and both counts re-ran every
        # round although last round's after.count() IS this round's
        # edges.count(); with unequal counts the sets cannot be equal,
        # so the join is skipped entirely on shrinking rounds.
        if n_after == n_edges and after.join(
            edges, ["u", "v"], "left_anti"
        ).isEmpty():
            edges = after
            converged = True
            break
        edges = after
        n_edges = n_after
    if not converged:
        raise RuntimeError(
            f"connected-components did not converge in {max_rounds} "
            "large/small-star rounds"
        )
    # At the fixed point every non-root node carries exactly one edge to
    # its component minimum; roots and isolated nodes label themselves.
    roots = edges.groupBy("u").agg(F.min("v").alias("m"))
    return (
        nodes.join(roots, nodes["id"] == roots["u"], "left")
        .select(
            F.col("id").alias("doc_id"),
            F.coalesce(F.col("m"), F.col("id")).alias("cluster_id"),
        )
    )

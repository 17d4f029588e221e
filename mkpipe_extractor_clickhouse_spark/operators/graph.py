"""Distributed connected components: partition-local contraction, then
large-star/small-star (public Kiveris et al. "Connected Components in
MapReduce and Beyond", SoCC'14) — O(log² n) rounds regardless of
component diameter, unlike plain min-label propagation whose round
count equals the diameter.

Used by llm_dedup.l18_dedup_clusters (component_minima over the
near-dup rep graph) and fuzzy_join.er1_fuzzy_entity_clusters
(connected_components over string node ids); verified
exactly against DuckDB recursive-reachability oracles there, and
against a deep chain graph (diameter >> propagation bounds) in
tests/test_llm.py.

1. **Contraction** (Łącki et al., "Connected Components at Scale via
   Local Contractions", 2018). One mapInArrow pass runs union-find over
   each partition's edges and emits ``(node, local_root)`` for every
   non-root node, local_root = the minimum id of the node's component
   within that partition. Union of the partitions' forests has exactly
   the input's connectivity, and each partition emits fewer edges than
   it touches nodes — a partition's near-dup cliques or dup-group
   stars shrink to one edge per member before anything shuffles.
2. **Star-forest stop test**, checked before each round with one
   aggregation job. Every edge is oriented ``u > v`` (contraction emits
   node > local_root, and both star operators emit larger → smaller).
   If every ``u`` occurs once and no ``v`` occurs as a ``u``, the edge
   set is a forest of stars whose centers are the ``v``s, each center
   smaller than all its leaves, i.e. its component's minimum. That is
   exactly the large-/small-star fixed point (on such a set large-star
   re-emits every (leaf, center) edge and small-star re-links each leaf
   to its only, smaller, neighbor), so component_minima's finish —
   every non-root's one edge names its component minimum — reads it
   directly.
   No round runs only to confirm that nothing changed.
3. **Rounds**: large-star then small-star, each two grouped-min + join
   passes over the edge set — plain shuffles on node ids. A required
   pin (ephemeral_cache) truncates the iterative lineage every round.

100 TB posture: the contraction kernel holds one partition's edges
(ids, their sort order and two int64 index arrays), never the graph;
its output is no larger than its input, so every round runs on at most
the input's edge count and usually far less. No edge is collected:
each stop test brings back one boolean.
"""

from __future__ import annotations

import logging
import sys
from typing import TYPE_CHECKING, Iterator

import numpy as np
from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._cache import ephemeral_cache

if TYPE_CHECKING:
    import pyarrow as pa

# The contraction kernel calls _union_find inside the Python workers;
# ship this module by value, like the kernel itself, so a worker never
# has to import the package.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

logger = logging.getLogger(__name__)


def _union_find(a: np.ndarray, b: np.ndarray, n: int) -> np.ndarray:
    """Parent array over node indices 0..n-1 after uniting every (a[i],
    b[i]): parent[x] = the smallest index of x's component.

    Vectorized hooking + pointer jumping: each pass hooks, for every
    edge whose endpoints have different roots, the larger root under
    the smaller (``np.minimum.at`` — the smallest candidate wins), then
    jumps pointers until every node points at a root. parent[x] <= x
    holds throughout, so a root is its tree's minimum, and every
    hooking pass strictly lowers some parent, so the loop ends."""
    parent = np.arange(n, dtype=np.int64)
    while True:
        ra, rb = parent[a], parent[b]
        live = ra != rb
        if not live.any():
            return parent
        ra, rb = ra[live], rb[live]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped


def _local_forest(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """mapInArrow kernel: one partition's (u, v) edges → its union-find
    forest as (node, local_root) rows, node > local_root.

    Ids are factorized through ``sort_indices`` over the partition's
    distinct ids, so index order is id order and the smallest index is
    the smallest id. Arrow orders binary/string values bytewise, as
    Spark does, so the same holds for string ids."""
    import pyarrow as pa
    import pyarrow.compute as pc

    batches = [b for b in batches if b.num_rows]
    if not batches:
        return
    u = pa.chunked_array([b.column("u") for b in batches])
    v = pa.chunked_array([b.column("v") for b in batches])
    ids = pc.unique(pa.chunked_array(u.chunks + v.chunks))
    ids = ids.take(pc.sort_indices(ids))
    parent = _union_find(
        pc.index_in(u, value_set=ids).to_numpy().astype(np.int64),
        pc.index_in(v, value_set=ids).to_numpy().astype(np.int64),
        len(ids),
    )
    child = np.flatnonzero(parent != np.arange(len(ids)))
    yield pa.RecordBatch.from_arrays(
        [ids.take(child), ids.take(parent[child])], schema=batches[0].schema
    )


def _is_star_forest(edges: DataFrame) -> bool:
    """True iff the u > v oriented edge set is a forest of stars: every
    u occurs at most once and no v occurs as a u. One aggregation job."""
    ends = edges.select(
        F.col("u").alias("n"), F.lit(1).alias("out"), F.lit(False).alias("center")
    ).unionByName(
        edges.select(
            F.col("v").alias("n"), F.lit(0).alias("out"), F.lit(True).alias("center")
        )
    )
    return (
        ends.groupBy("n")
        .agg(F.sum("out").alias("out"), F.max("center").alias("center"))
        .filter((F.col("out") > 1) | ((F.col("out") == 1) & F.col("center")))
        .isEmpty()
    )


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


def component_minima(edges: DataFrame, max_rounds: int = 50) -> DataFrame:
    """``(u, m)`` for every node u of the undirected edge set ``edges``
    (columns ``u``, ``v`` of one type) that is not its component's
    minimum, m = that minimum; component minima and isolated nodes
    have no row.

    Contracts each partition's edges to a forest, then alternates
    large-star/small-star until the edge set is a star forest — the
    fixed point, a union of stars centered on component minima.
    Provably O(log² n) rounds, so deep-diameter chains converge where
    label propagation would need diameter rounds. Logs the number of
    rounds run."""
    edges = edges.select("u", "v").filter(F.col("u") != F.col("v"))
    edges = ephemeral_cache(
        edges.mapInArrow(_local_forest, edges.schema), required=True
    )
    rounds = 0
    while not _is_star_forest(edges):
        if rounds == max_rounds:
            raise RuntimeError(
                f"connected-components did not converge in {max_rounds} "
                "large/small-star rounds"
            )
        edges = ephemeral_cache(
            _small_star(_large_star(edges)), required=True
        )
        rounds += 1
    logger.info("connected components: %d large/small-star rounds", rounds)
    # Every non-root node carries exactly one edge, to its component
    # minimum.
    return edges.groupBy("u").agg(F.min("v").alias("m"))


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_rounds: int = 50
) -> DataFrame:
    """Connected components of an undirected graph.

    ``nodes``: one column ``id`` (every vertex, including isolated
    ones).  ``edges``: columns ``u``, ``v`` of the same type.  Returns
    ``(doc_id, cluster_id)`` with cluster_id = min node id in the
    component (component_minima; roots and isolated nodes label
    themselves)."""
    roots = component_minima(edges, max_rounds)
    return (
        nodes.join(roots, nodes["id"] == roots["u"], "left")
        .select(
            F.col("id").alias("doc_id"),
            F.coalesce(F.col("m"), F.col("id")).alias("cluster_id"),
        )
    )

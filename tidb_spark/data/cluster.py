"""Duplicate-cluster resolution: connected components over near-dup pairs.

Pairwise dedup (n-gram Jaccard / MinHash-LSH / SimHash / embedding cosine —
``tidb_spark/data/dedup.py``) yields EDGES; a training-data pipeline needs
the transitive closure: one canonical document per duplicate CLUSTER (A~B,
B~C ⇒ {A,B,C} keep min id).  The reference engine expresses this with a
recursive CTE walk (its recursive-CTE executor; our oracle does exactly
that in DuckDB) — fine for small graphs, O(diameter) rounds.

At 100 TB the right algorithm is the alternating large-star / small-star
map-reduce of Kiveris et al., "Connected Components in MapReduce and
Beyond" (SoCC'14): each round is ONE groupBy (min-neighbor per node) plus
ONE join on the node key, so AQE can split a skewed super-node's join —
no per-vertex frontier like BFS, no driver-side union-find.  The rounds
start from edges already contracted partition-locally (Łącki et al.,
"Connected Components at Scale via Local Contractions", 2018): one
``mapInArrow`` pass, with no shuffle, runs a vectorised union-find over
each partition and emits min-rooted stars.  When the edge set fits one
partition (AQE coalesces small inputs into one) that pass alone yields
the answer and no round runs.  The stop is exact: the edge set has
converged when it is a star forest (no node with two parents, no node
both parent and child), one small agg per round; every round ends in
``localCheckpoint`` to cut lineage (same harness discipline as
``graph/shortest.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canon(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Orient every edge (hi → lo), dropping self-loops and duplicates."""
    return (
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("u"),
            F.least(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """large-star(u): connect every strictly-larger neighbor of u to
    m = min({u} ∪ N(u))."""
    sym = e.select("u", "v").union(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.min("v").alias("minv"))
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(
            F.col("v").alias("u"),
            F.least(F.col("u"), F.col("minv")).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        # No distinct here: _small_star (always applied next) ends in one,
        # and each sym row yields at most one output edge, so duplicates
        # are bounded by the input edge count — dropping the intermediate
        # distinct removes a whole shuffle+dedup stage per round.
    )


def _small_star(e: DataFrame) -> DataFrame:
    """small-star(u): connect u and all its smaller neighbors to their
    collective minimum."""
    o = e.select(
        F.greatest(F.col("u"), F.col("v")).alias("u"),
        F.least(F.col("u"), F.col("v")).alias("v"),
    )
    mins = o.groupBy("u").agg(F.min("v").alias("m"))
    rewired = (
        o.join(mins, "u")
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    centers = mins.select(F.col("u"), F.col("m").alias("v"))
    return rewired.union(centers).where(F.col("u") != F.col("v")).distinct()


def _contract_partition(batches):
    """``mapInArrow`` body: union-find over ONE partition's (u, v) edges,
    emitting a (node, local min) star edge for every node that is not its
    local component's minimum.  Vectorised: each pass hooks every
    edge-spanning root onto the smaller root, then pointer-jumps until
    every node points at a root; it stops when no edge spans two roots."""
    import numpy as np
    import pyarrow as pa

    batches = list(batches)
    if not batches:
        return
    t = pa.Table.from_batches(batches)
    u, v = t.column("u").to_numpy(), t.column("v").to_numpy()
    # Dense ids in value order: the smallest dense id is the smallest node.
    ids, ends = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = ends[: len(u)], ends[len(u):]
    parent = np.arange(len(ids))
    while True:
        ra, rb = parent[a], parent[b]
        span = ra != rb
        if not span.any():
            break
        np.minimum.at(
            parent, np.maximum(ra, rb)[span], np.minimum(ra, rb)[span]
        )
        while True:
            up = parent[parent]
            if (up == parent).all():
                break
            parent = up
    leaf = parent != np.arange(len(ids))
    yield pa.RecordBatch.from_arrays(
        [
            pa.array(ids[leaf], t.schema.field("u").type),
            pa.array(ids[parent[leaf]], t.schema.field("v").type),
        ],
        names=["u", "v"],
    )


def _is_star_forest(e: DataFrame) -> bool:
    """The star rounds' exact fixpoint: every edge is (leaf, root) of a
    min-rooted star — no node has two parents and no node is both a
    parent and a child, i.e. every child appears in exactly one edge."""
    ends = e.select(F.col("u").alias("n"), F.lit(1).alias("child")).union(
        e.select(F.col("v").alias("n"), F.lit(0).alias("child"))
    )
    return (
        ends.groupBy("n")
        .agg(F.sum("child").alias("child"), F.count(F.lit(1)).alias("ends"))
        .where((F.col("child") > 0) & (F.col("ends") > 1))
        .isEmpty()
    )


def connected_components(
    edges: DataFrame,
    src: str = "d1",
    dst: str = "d2",
    *,
    max_rounds: int = 25,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``; component
    id = the minimum node id in its connected component.  Undirected;
    self-loops ignored.  Raises ``RuntimeError`` when the edge set is not
    a star forest after ``max_rounds`` star rounds.

    One partition-local contraction (no shuffle) turns each partition's
    edges into min-rooted stars; if the union is not yet a star forest,
    alternating large-star/small-star rounds (each one shuffle-agg plus
    one shuffle-join on the node key, so AQE can split a skewed
    super-node's join) run until it is."""
    # Every checkpoint is lazy, but under AQE localCheckpoint still runs
    # the frame's shuffle-map stages when it is called; the star-forest
    # test then runs the last stage.  Each round therefore costs its
    # stage jobs plus one test, and no round is built past the fixpoint.
    canon = _canon(edges, src, dst)
    e = canon.mapInArrow(_contract_partition, canon.schema).localCheckpoint(
        eager=False
    )
    rounds = 0
    while not _is_star_forest(e):
        if rounds == max_rounds:
            raise RuntimeError(
                f"connected_components: no star forest after {max_rounds} rounds"
            )
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        rounds += 1
    # In a star forest the leaves point at their root (the component
    # minimum) and the roots are exactly the distinct parents.
    roots = e.select(
        F.col("v").alias("node"), F.col("v").alias("component")
    ).distinct()
    return e.select(
        F.col("u").alias("node"), F.col("v").alias("component")
    ).union(roots)


def duplicate_clusters(
    pairs: DataFrame,
    src: str = "d1",
    dst: str = "d2",
) -> DataFrame:
    """Near-dup pairs → (doc_id, canonical_id, cluster_size): the
    transitive-closure grouping with canonical = min id per cluster.
    ``cluster_size`` counts documents in the cluster (≥ 2 by
    construction — only paired docs appear)."""
    cc = connected_components(pairs, src, dst)
    sizes = cc.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return cc.join(sizes, "component").select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("canonical_id"),
        F.col("cluster_size"),
    )

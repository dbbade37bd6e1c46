"""Distributed connected components + cluster-level near-dedup.

The near-dup detectors in ``datapipe.dedup`` / ``datapipe.similarity``
emit PAIRS (id_a, id_b).  An actual dedup pass needs transitive
CLUSTERS — if A~B and B~C, then {A,B,C} is one duplicate group and the
pipeline keeps exactly one representative — so pair lists must be closed
under transitivity before filtering.

``connected_components`` implements the alternating small-star /
large-star algorithm (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14): every round is two keyed self-maps
(explode + groupBy on node id) that monotonically lower each node's
label to the minimum id reachable so far, converging in O(log n)
rounds on real graphs.  At 100 TB the edge set from LSH banding is a
tiny fraction of the corpus (near-dup pairs only), and every shuffle in
the loop carries (long, long) edges keyed by node id — document bodies
never enter the loop.

Driver involvement per round is ONE scalar aggregate (the convergence
check, a count of label changes), so the loop is safe on a
1000-executor cluster; each round's frame is checkpointed via
localCheckpoint to sever the lineage (an iterative plan otherwise grows
exponentially and re-executes prior rounds).

``near_dedup`` is the end-to-end flagship: detector → components →
keep min-id representative per cluster → anti-join the corpus.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["connected_components", "dup_clusters", "near_dedup"]


def _canonical_edges(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """(src, dst) with src < dst, deduplicated, self-loops dropped."""
    lo = F.least(F.col(a), F.col(b))
    hi = F.greatest(F.col(a), F.col(b))
    return (
        pairs.select(lo.alias("src"), hi.alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )


def _star_round(edges: DataFrame, small: bool) -> DataFrame:
    """One large-star or small-star round.

    Both operate on the neighborhood of each node u (u itself included):
    let m = min(neighborhood).  Large-star connects every STRICTLY LARGER
    neighbor v > u to m; small-star connects every v <= u to m.

    The per-node minimum is a WINDOW min over partitionBy(u) — one keyed
    shuffle, no sort (unbounded frame), and crucially no neighborhood
    array ever materializes: a hub node whose dup cluster has millions of
    members streams through as rows, where a collect_set formulation
    would build one executor-resident array per hub.
    """
    from pyspark.sql import Window as W

    # neighborhoods: emit each edge in both directions for large-star;
    # small-star only needs the (greater -> lesser) direction.
    if small:
        nbrs = edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    else:
        nbrs = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionAll(
            edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
        )
    m = F.least(F.min("v").over(W.partitionBy("u")), F.col("u"))
    with_m = nbrs.withColumn("m", m)
    if small:
        # connect every (< u) neighbor and u itself to m; (m, u) repeats
        # per row and the final dropDuplicates collapses it — cheaper
        # than a row_number pick (which would force a per-partition sort)
        out = with_m.select(
            "m", F.explode(F.array(F.col("v"), F.col("u"))).alias("n")
        )
    else:
        # connect every strictly-larger neighbor to m
        out = with_m.filter(F.col("v") > F.col("u")).select(
            "m", F.col("v").alias("n")
        )
    return (
        out.filter(F.col("m") != F.col("n"))
        .select(F.col("m").alias("src"), F.col("n").alias("dst"))
        .dropDuplicates(["src", "dst"])
    )


def _release_checkpoint(df: DataFrame) -> None:
    """Free the persisted RDD behind a localCheckpoint()ed frame
    (``DataFrame.unpersist`` does not reach it: the checkpoint is a
    LogicalRDD, not a cache-manager entry)."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 50,
) -> DataFrame:
    """Label every node in the pair graph with its component's min id.

    Returns (id, component).  Nodes absent from ``pairs`` are absent from
    the result (they are their own singleton components — callers join
    back to the corpus, see ``near_dedup``).

    Alternating small-star/large-star converges when a large-star round
    changes no edges; at that fixed point every surviving edge is
    (component_min -> member).  Convergence is checked with one scalar
    count per round; each round's edge set is localCheckpoint()ed to cut
    the iterative lineage.
    """
    edges = _canonical_edges(pairs, id_a, id_b).localCheckpoint(eager=True)
    if not edges.take(1):
        # empty graph: keep the caller's id type (string ids work too)
        return edges.select(
            F.col("src").alias("id"), F.col("dst").alias("component")
        )
    for _ in range(max_rounds):
        after_large = _star_round(edges, small=False)
        after_small = _star_round(after_large, small=True).localCheckpoint(eager=True)
        # fixed point: the round was a no-op (same canonical edge set).
        # ONE job: a row in the symmetric difference appears exactly once
        # in the union of the two (deduplicated) edge sets.
        changed = (
            after_small.unionAll(edges)
            .groupBy("src", "dst")
            .count()
            .filter(F.col("count") == 1)
            .take(1)
        )
        _release_checkpoint(edges)  # superseded by this round's edges
        edges = after_small
        if not changed:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )
    # fixed point edges are (min -> member); add the roots themselves
    members = edges.select(F.col("dst").alias("id"), F.col("src").alias("component"))
    roots = edges.select(F.col("src").alias("id")).distinct().withColumn(
        "component", F.col("id")
    )
    return members.unionAll(roots).dropDuplicates(["id"])


def dup_clusters(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """(component, n, ids) — each transitive near-dup cluster with its
    sorted member list.  Useful for auditing what a dedup pass removes."""
    cc = connected_components(pairs, id_a, id_b)
    return cc.groupBy("component").agg(
        F.count(F.lit(1)).alias("n"), F.sort_array(F.collect_list("id")).alias("ids")
    )


def near_dedup(
    df: DataFrame,
    pairs: Optional[DataFrame] = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    detector: Optional[Callable[[DataFrame], DataFrame]] = None,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """End-to-end near-dedup: detector pairs → transitive clusters →
    keep the min-id representative of each cluster.

    Pass precomputed ``pairs`` (from ``minhash_lsh_pairs``,
    ``simhash_near_pairs``, ``jaccard_pairs``, ``embedding_near_pairs``…)
    or a ``detector`` callable applied to ``df``.  Default detector is
    MinHash+LSH in its star-edge scale mode (``minhash_lsh_edges``): each
    LSH bucket contributes O(n) (min-id, member) edges instead of O(n²)
    pairs — the component closure is identical, and a hot boilerplate
    bucket can no longer blow up the candidate join.

    Scale: the component labeling runs over the PAIR graph only; the
    final filter is one left-anti join of the corpus against the small
    drop-list keyed by id (broadcast when it fits), so document bodies
    never shuffle.
    """
    if pairs is None:
        if detector is None:
            from ekuiper_spark.datapipe.dedup import minhash_lsh_edges

            detector = lambda d: minhash_lsh_edges(d, text_col=text_col, id_col=id_col)
        pairs = detector(df)
    cc = connected_components(pairs, id_a, id_b)
    drop = cc.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, on=id_col, how="left_anti")

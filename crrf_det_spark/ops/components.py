"""Connected-components resolution for dedup edge lists.

The dedup operators (simhash/jaccard/embedding) emit near-duplicate
PAIR/STAR edge lists; the step every training-data pipeline runs next is to
resolve those edges into clusters and keep one representative per cluster.
This module is that consumer.

``duplicate_components`` implements the alternating large-star / small-star
algorithm (Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14): each round is two rounds of pure DataFrame agg+join work, the
edge set never grows beyond the input size, and convergence takes
O(log^2 n) rounds on adversarial graphs (O(log n) in practice) — no
driver-side graph state, so it holds at 100 TB edge lists.  Per round the
plan is localCheckpoint'd: an iterative join would otherwise stack lineage
depth linearly in rounds (and re-run everything on a lost partition).

Scale notes: every round shuffles on the node id exactly twice (one
groupBy min, one join back, both co-partitioned on the same key).  Skewed
high-degree nodes are naturally bounded: large-star emits at most one edge
per (node, neighbor) and small-star strictly shrinks star centers toward
component minima.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canon(edges: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Undirected edge set, canonically oriented (a > b), self-loops and
    duplicates dropped."""
    e = edges.select(
        F.greatest(F.col(a_col), F.col(b_col)).alias("a"),
        F.least(F.col(a_col), F.col(b_col)).alias("b"),
    )
    return e.filter(F.col("a") != F.col("b")).distinct()


def _sym(e: DataFrame) -> DataFrame:
    return e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )


def _large_star(e: DataFrame) -> DataFrame:
    """For each node u, attach every LARGER neighbor v to
    m = min(N(u) + {u})."""
    nb = _sym(e)
    mins = (
        nb.groupBy("a")
        .agg(F.min("b").alias("_mn"))
        .withColumn("_m", F.least("a", "_mn"))
        .select("a", "_m")
    )
    return (
        nb.join(mins, "a")
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("_m").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """For each node u, link its SMALLER-or-equal neighborhood (and u
    itself) to that neighborhood's minimum."""
    nb = _sym(e).filter(F.col("b") < F.col("a"))  # big -> small, once each
    mins = nb.groupBy("a").agg(F.min("b").alias("_m"))
    member_edges = (
        nb.join(mins, "a")
        .filter(F.col("b") != F.col("_m"))
        .select(F.col("b").alias("a"), F.col("_m").alias("b"))
    )
    center_edges = mins.select("a", F.col("_m").alias("b"))
    return (
        member_edges.unionByName(center_edges)
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _checksum(e: DataFrame) -> tuple[int, int]:
    row = e.agg(
        F.count("*").alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("a", "b")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def duplicate_components(
    edges: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 30,
) -> DataFrame:
    """Resolve a near-duplicate edge list into connected components.

    Returns (doc_id, component) for EVERY node that appears in ``edges``,
    where ``component`` is the smallest doc_id in the node's connected
    component (so the component id doubles as the canonical
    representative).  Nodes absent from the edge list are not emitted —
    they are their own singleton components by definition.

    The loop runs large-star + small-star until the edge set is stable
    (checksum compare, one tiny aggregate per round) or ``max_iter``
    rounds, raising if it fails to converge — on a converged star graph
    every remaining edge is (member, component_min).
    """
    e = _canon(edges, a_col, b_col).localCheckpoint(eager=True)
    prev = _checksum(e)
    for _ in range(max_iter):
        e_next = _small_star(_large_star(e)).localCheckpoint(eager=True)
        cur = _checksum(e_next)
        e = e_next
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"duplicate_components: no convergence in {max_iter} rounds"
        )
    return (
        e.select(F.col("a").alias("doc_id"), F.col("b").alias("component"))
        .unionByName(
            e.select(
                F.col("b").alias("doc_id"), F.col("b").alias("component")
            )
        )
        .distinct()
    )


def keep_representatives(
    docs: DataFrame, components: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """The deduplicated corpus: drop every doc that belongs to a
    duplicate component and is not its representative (the component
    minimum).  Docs not in ``components`` pass through untouched.

    One left-anti join against the (small — only duplicated docs)
    non-representative id set; AQE broadcasts it when it fits.
    """
    non_reps = components.filter(
        F.col("doc_id") != F.col("component")
    ).select(F.col("doc_id").alias(id_col))
    return docs.join(non_reps, id_col, "left_anti")

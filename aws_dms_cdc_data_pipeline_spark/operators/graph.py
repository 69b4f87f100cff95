"""Iterative graph centrality — PageRank over an edge relation.

The entity-importance primitive a curation/analytics pipeline needs
when relations matter more than counts (supplier co-supply networks,
domain link graphs for web-corpus quality, user interaction graphs):
PageRank (Page et al. 1999) as the canonical representative of the
iterative message-passing class.

Spark shape per iteration: ONE shuffle — contributions = edges ⋈
ranks keyed on the source, summed per destination (map-side
partials); out-degrees join broadcast (a node-sized relation);
dangling mass is a 1-row aggregate folded into the teleport term.
Lineage truncates with localCheckpoint every iteration so the plan
stays flat at any iteration count. Convergence is an L∞ check on a
1-row aggregate; the loop stops early when below ``tol``.

Determinism: rank values are double sums over shuffle partitions —
deterministic for a fixed partitioning but not bit-identical across
layouts (the standard float-reduction caveat; the E73 EWMA
precedent). Registry exposure is therefore rows-only; tests pin the
values against a dense numpy power iteration within 1e-9 and assert
the rank-sum invariant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    max_iterations: int = 30,
    tol: float = 1e-9,
) -> DataFrame:
    """PageRank over a directed edge list; returns (id, rank) for
    every node appearing as a source or destination, Σ rank = 1.

    Dangling nodes (no out-edges) redistribute their mass uniformly
    (the standard correction — without it rank mass leaks and the
    distribution no longer sums to 1). Parallel edges are
    deduplicated; self-loops are legal.
    """
    if not (0.0 < damping < 1.0):
        raise ValueError("damping must be in (0, 1)")
    e = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("t")
    ).distinct().persist()
    nodes = (
        e.select(F.col("s").alias("id"))
        .union(e.select(F.col("t").alias("id")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    if n == 0:
        return nodes.select("id", F.lit(0.0).alias("rank"))
    out_deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("_deg"))
    ranks = nodes.withColumn("rank", F.lit(1.0 / n)).localCheckpoint(
        eager=True
    )
    teleport = (1.0 - damping) / n
    for _ in range(max_iterations):
        with_deg = ranks.join(
            out_deg, ranks["id"] == out_deg["s"], "left"
        ).select("id", "rank", "_deg")
        # dangling mass: a 1-row aggregate, redistributed uniformly
        dangling = (
            with_deg.filter(F.col("_deg").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("m"))
            .collect()[0]["m"]
        )
        contribs = (
            e.join(with_deg, e["s"] == with_deg["id"])
            .select(
                F.col("t").alias("id"),
                (F.col("rank") / F.col("_deg")).alias("_c"),
            )
            .groupBy("id")
            .agg(F.sum("_c").alias("_in"))
        )
        base = teleport + damping * dangling / n
        new_ranks = (
            nodes.join(contribs, "id", "left")
            .select(
                "id",
                (
                    F.lit(base)
                    + F.lit(damping) * F.coalesce(F.col("_in"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
        delta = (
            new_ranks.alias("n")
            .join(ranks.alias("o"), "id")
            .agg(
                F.max(F.abs(F.col("n.rank") - F.col("o.rank"))).alias("d")
            )
            .collect()[0]["d"]
        )
        ranks = new_ranks
        if delta is not None and delta < tol:
            break
    return ranks.orderBy(F.col("rank").desc(), F.col("id").asc())


__all__ = ["pagerank"]

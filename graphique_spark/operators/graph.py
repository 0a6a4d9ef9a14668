"""Iterative graph ranking (PageRank) over an edge DataFrame.

Training-data pipelines rank crawl sources by link authority (the
Common-Crawl host-graph PageRank that feeds quality weighting in C4/
RefinedWeb-style curation). The algorithm is the classic power iteration
expressed as joins + aggregates — Pregel without the framework:

    rank[v] <- (1-d)/N + d * sum over in-edges (u,v) of rank[u]/outdeg[u]

Scale shape per iteration: one join of the slim (src, dst, 1/outdeg)
edge list against the (node, rank) table on src, one groupBy(dst) sum —
both partial-aggregated map-side. The edge list is computed once,
repartitioned on src and materialized, so no iteration re-runs the
upstream edge pipeline; the rank table is the only thing that changes.
Dangling nodes (no out-edges) redistribute their mass uniformly via one scalar
aggregate per iteration — the standard correction, without which rank
leaks. Iterations are a fixed count (rank deltas converge geometrically;
callers wanting a tolerance can compare successive snapshots with
``snapshot_diff``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphique_spark.session import materialize


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Rank nodes of the directed graph ``edges`` (one row per edge,
    duplicates collapse). Returns (node, rank); ranks sum to 1.

    The loop is driver-side but each step is a narrow distributed plan.
    Each iteration ends in a :func:`graphique_spark.session.materialize`
    cut, so the final DAG doesn't re-execute every prior step. None of the
    cuts enters the CacheManager: an intermediate's blocks go once nothing
    references its frame, and the returned frame keeps only the last
    iteration's.
    """
    spark = edges.sparkSession
    # one materialized copy of the deduped edge list: the node set,
    # out-degrees and contribution weights all derive from it, and without
    # the cut the (possibly expensive) upstream edge pipeline re-runs per
    # lineage
    e = materialize(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    )
    # node set AND the static dangling flag (no out-edges) in ONE shuffle:
    # explode each edge into (src, has_out=true) + (dst, false) and take
    # max(has_out) per node. The union-distinct + degree-join version cost
    # three shuffles and a join for the same frame. Materialized: the node
    # count and every iteration read it.
    nodes = materialize(
        e.select(
            F.explode(
                F.array(
                    F.struct(F.col("src").alias("node"), F.lit(True).alias("h")),
                    F.struct(F.col("dst").alias("node"), F.lit(False).alias("h")),
                )
            ).alias("s")
        )
        .select("s.node", F.col("s.h").alias("h"))
        .groupBy("node")
        .agg(F.max("h").alias("has_out"))
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    n = nodes.count()
    # partition count for the per-iteration edge side derives from the
    # measured edge count (fixed-width rows: ~2M rows ≈ 100 MB targets the
    # guide's 100 MB-1 GB band), not from a constant: the old
    # min(defaultParallelism, 64) under-partitions a web-scale edge list
    # (billions of edges across 64 tasks) and over-partitions a small one
    # (64 near-empty tasks per iteration). The count reads the
    # materialized edge list.
    rows_per_part = int(
        spark.conf.get("graphique.pagerank.edgeRowsPerPartition", "2000000")
    )
    n_parts = max(
        1,
        min(
            -(-e.count() // max(rows_per_part, 1)),
            16 * spark.sparkContext.defaultParallelism,
        ),
    )
    if n == 0:
        # empty edge frame: no nodes to rank (base would divide by zero);
        # limit(0) keeps the node column's type from the input edges
        return nodes.select("node", F.lit(0.0).alias("rank")).limit(0)
    # contribution weight per edge, hash-partitioned by src into n_parts.
    # Under AQE a cut does not carry that layout into later plans, so
    # each iteration re-shuffles this side (a persist kept it)
    contrib_edges = materialize(
        e.join(outdeg, on="src")
        .select("src", "dst", (1.0 / F.col("outdeg")).alias("w"))
        .repartition(n_parts, "src")
    )
    base = (1.0 - damping) / n

    ranks = nodes.select("node", "has_out", F.lit(1.0 / n).alias("rank"))
    for _ in range(iterations):
        # mass of dangling nodes spreads uniformly; kept as a LAZY one-row
        # aggregate cross-joined into the update, so each iteration is a
        # single job (a driver-side .first() here would run a second full
        # pass over the rank table per round)
        dangling = ranks.where(~F.col("has_out")).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dm")
        )
        inflow = (
            contrib_edges.join(ranks, contrib_edges["src"] == ranks["node"])
            .select(F.col("dst").alias("node"), (F.col("w") * F.col("rank")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = materialize(
            nodes.join(inflow, on="node", how="left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "has_out",
                (
                    F.lit(base)
                    + damping
                    * (F.coalesce(F.col("inflow"), F.lit(0.0)) + F.col("__dm") / n)
                ).alias("rank"),
            )
        )
    return ranks.select("node", "rank")

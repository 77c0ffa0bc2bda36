"""PageRank over the canonical edge graph — the second iterative
DataFrame algorithm beside connected components (graph analytics over the
materialized ``edges`` table).

Synchronous power iteration: rank' = (1-d)/N + d·(Σ in-contributions +
dangling-mass/N). Each round is two hash-shuffles; ``localCheckpoint``
truncates lineage (same driver-side fixpoint pattern as kgforge.graph.cc,
SURVEY.md §4.3-2). Deterministic: synchronous updates, fixed iteration
count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgforge.graph.analytics import endpoint_degree


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 10,
) -> DataFrame:
    """edges(src, dst) → ranks(node, rank). Multi-edges count once."""
    e = (
        edges.select("src", "dst")
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .localCheckpoint()
    )
    # the aggregate's unused degree column is pruned: a distinct node set
    nodes = endpoint_degree(e, "src", "dst").select("node").localCheckpoint()
    n = nodes.count()
    if n == 0:
        return edges.sparkSession.createDataFrame([], "node string, rank double")
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    base = (1.0 - damping) / n
    for _ in range(iterations):
        with_deg = ranks.join(
            out_deg, ranks["node"] == out_deg["src"], "left"
        ).select("node", "rank", "out_deg")
        # dangling mass stays IN-PLAN (1-row aggregate broadcast into the
        # rank update) instead of a driver-side collect: one Spark job per
        # iteration (the localCheckpoint) rather than two.
        dangling_df = (
            with_deg.where(F.col("out_deg").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dangling"))
        )
        contribs = (
            e.join(
                with_deg.where(F.col("out_deg").isNotNull()),
                e["src"] == with_deg["node"],
            )
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("out_deg")).alias("contrib"),
            )
            .groupBy("node")
            .agg(F.sum("contrib").alias("in_sum"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .join(F.broadcast(dangling_df))
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("in_sum"), F.lit(0.0))
                        + F.col("dangling") / F.lit(float(n))
                    )
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks

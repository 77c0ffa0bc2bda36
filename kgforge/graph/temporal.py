"""Temporal graph queries over the day-partitioned edge table.

The edge materialization partitions by ``day`` (Iceberg ``days(warc_ts)``
transform, emulated by ``stages.canonicalize.edges_with_day`` + partitioned
Parquet — SURVEY.md §1.2 ``edges`` table). These queries demonstrate that
the partition layout actually buys something at 100 TB:

- ``degree_over_time``: entity degree per (day, node) — a rollup the graph
  store can serve without touching raw docs; one shuffle on (day, node)
  after a distinct on (day, src, dst).
- ``window_subgraph_topk``: top edges inside a time window, read from the
  PARTITIONED table with the day predicate applied at scan time — Spark's
  file-source partition pruning skips every out-of-window directory, so the
  scan cost is proportional to the window, not the table (plan-asserted in
  tests/test_temporal.py: PartitionFilters carries the day bounds and the
  pruned-file count matches the window).

Both window queries (and ``bgp.match_bgp_window``) read the path through
``graph.serving.committed_read``: one parquet frame per committed table
version, so a repeated window call reuses its listing and schema instead
of relisting and re-inferring the table, and a rewrite is read fresh. A
small version's read is one partition (``serving.one_partition_if_small``,
up to a 4 MiB size estimate): the day filter still prunes partitions
below its ``Coalesce``, and the scan, count and top-k run in one task
with no exchange, one Spark job a call. A larger read keeps its
parallel scan.

At 10^12 docs the edges table spans years of crawl days; an analyst's
"what changed this week" query must not scan the decade. Day partitioning
+ pruning is the standard Iceberg answer; this is its offline twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgforge.graph.analytics import endpoint_degree
from kgforge.graph.serving import committed_read

# contract-query window: 15 of the fixture's 90 crawl days (FIXTURES.md)
WINDOW_LO = "2025-01-10"
WINDOW_HI = "2025-01-24"
# the next 15-day window, for the cross-window diff
WINDOW_B_LO = "2025-01-25"
WINDOW_B_HI = "2025-02-08"


def degree_over_time(edges_day_df: DataFrame, k: int = 30) -> DataFrame:
    """edges(+day) → per-(day, node) total degree, top-k.

    Distinct (day, src, dst) first — multiplicity of a repeated assertion
    within a day does not inflate degree (mirrors the static degree
    histogram's distinct-edge semantics); self-loops count both endpoints.
    """
    e = edges_day_df.select("day", "subj_id", "obj_id").distinct()
    deg = endpoint_degree(e, "subj_id", "obj_id", "day")
    return deg.orderBy(F.desc("degree"), F.asc("day"), F.asc("node")).limit(k)


def materialize_edges_by_day(
    edges_day_df: DataFrame, path: str, stage: str = "edges_by_day"
) -> None:
    """Write the edge table partitioned by ``day`` (resume-aware: a
    committed manifest short-circuits the rewrite, same as every stage)."""
    from kgforge.io.tables import is_committed, write_table

    if is_committed(path, stage):
        return
    # write_parquet clusters rows by day: one file per day directory
    write_table(edges_day_df, path, stage=stage, partition_by=["day"])


def window_edge_diff_topk(
    spark: SparkSession,
    path: str,
    a_lo: str = WINDOW_LO,
    a_hi: str = WINDOW_HI,
    b_lo: str = WINDOW_B_LO,
    b_hi: str = WINDOW_B_HI,
    k: int = 20,
) -> DataFrame:
    """Cross-window diff — "what did this crawl window assert that the
    previous one didn't": top-k (subj_id, pred, obj_id) by count in window
    B among edges absent from window A. Both reads hit the day-partitioned
    table with the window as a partition filter, so at crawl scale the
    diff touches two windows' worth of files, never the full table. The
    anti join shuffles only the two windows' distinct edge sets (AQE picks
    broadcast when window A's distinct set is small)."""
    edges = committed_read(spark, path)
    in_b = edges.where((F.col("day") >= b_lo) & (F.col("day") <= b_hi))
    seen_a = (
        edges.where((F.col("day") >= a_lo) & (F.col("day") <= a_hi))
        .select("subj_id", "pred", "obj_id")
        .distinct()
    )
    return (
        in_b.join(seen_a, ["subj_id", "pred", "obj_id"], "left_anti")
        .groupBy("subj_id", "pred", "obj_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("subj_id"), F.asc("pred"), F.asc("obj_id"))
        .limit(k)
    )


def window_subgraph_topk(
    spark: SparkSession,
    path: str,
    lo: str = WINDOW_LO,
    hi: str = WINDOW_HI,
    k: int = 20,
) -> DataFrame:
    """Top-k (subj_id, pred, obj_id) edge counts within [lo, hi], reading
    the day-partitioned table so the day predicate becomes a partition
    filter (scan proportional to the window, not the table)."""
    edges = committed_read(spark, path)
    windowed = edges.where((F.col("day") >= lo) & (F.col("day") <= hi))
    return (
        windowed.groupBy("subj_id", "pred", "obj_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("subj_id"), F.asc("pred"), F.asc("obj_id"))
        .limit(k)
    )

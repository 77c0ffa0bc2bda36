"""Connected components via alternating large-star / small-star
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14)
— the O(log n)-round, shuffle-bounded algorithm (SURVEY.md §2.11
"Canonicalization").

Node ids are strings; the total order is lexicographic ``min`` — any
deterministic total order yields canonical component representatives.
Each iteration is two hash-shuffles (groupBy node); ``localCheckpoint``
truncates lineage so plans don't grow with iterations; AQE handles
post-shuffle coalescing and skew splitting. Convergence = edge multiset
stable (count + order-insensitive checksum).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgforge.graph.analytics import both_ways, directed_pairs


def _large_star(e: DataFrame) -> DataFrame:
    """For each node u: m = min(N(u) ∪ {u}); connect every strictly larger
    neighbor to m."""
    sym = both_ways(e, "src", "dst", out=("src", "dst")).distinct()
    m = sym.groupBy("src").agg(F.min("dst").alias("minn"))
    m = m.select("src", F.least("minn", F.col("src")).alias("m"))
    return (
        sym.where(F.col("dst") > F.col("src"))
        .join(m, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges large→small; for each node u: m = min of its smaller
    neighborhood ∪ {u}; connect those neighbors and u itself to m."""
    oriented = (
        e.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    m = oriented.groupBy("src").agg(F.min("dst").alias("minn"))
    m = m.select("src", F.least("minn", F.col("src")).alias("m"))
    joined = oriented.join(m, "src")
    out = joined.select(F.col("dst").alias("src"), F.col("m").alias("dst")).union(
        m.select(F.col("src"), F.col("m").alias("dst"))
    )
    return out.where(F.col("src") != F.col("dst")).distinct()


def _signature(e: DataFrame) -> tuple[int, int]:
    """Order-insensitive hashed checksum of an edge set (count + sum of
    xxhash64 over src, dst). PROBABILISTIC: distinct states can collide
    (order-insensitive sums admit swap collisions), the same accepted risk
    as any checksum-based fixpoint detection.

    decimal(38,0) sum: overflow-proof under ANSI mode (Spark 4 default)."""
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64(F.col("src"), F.col("dst")).cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _driver_union_find(spark: SparkSession, edges: pa.Table) -> DataFrame:
    """Small-graph fast path: union-find on the driver over the collected
    edge table (src, dst). Entity-dedup sameAs graphs are bounded by the alias
    dictionary — orders of magnitude smaller than the document stream — so
    below the threshold this replaces ~2·log(n) serial Spark jobs with the
    one bounded collect, removing constant latency that would otherwise
    cap scaling efficiency. The distributed star algorithm remains the
    path for graphs that don't fit on the driver."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(edges["src"].to_pylist(), edges["dst"].to_pylist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    nodes = list(parent)
    # Arrow, not a list of tuples: a list-built frame runs every read
    # through Python workers
    labels = pa.table({"node": nodes, "component": [find(n) for n in nodes]})
    return spark.createDataFrame(labels, "node string, component string")


def connected_components(
    edges: DataFrame, max_iter: int = 25, driver_threshold: int = 200_000
) -> DataFrame:
    """edges(src, dst) → labels(node, component) where component is the
    lexicographic min node id of each connected component. Isolated nodes
    (absent from edges) are the caller's concern — a node not returned maps
    to itself. Graphs with ≤ ``driver_threshold`` edges use the driver
    union-find fast path (one bounded collect decides the path and feeds
    it); larger graphs run alternating star rounds."""
    e = directed_pairs(edges, "src", "dst").localCheckpoint()
    # Arrow, not Row objects: above the threshold this collect is thrown
    # away, and as Arrow it costs little more than the count it replaces
    head = e.limit(driver_threshold + 1).toArrow()
    if head.num_rows <= driver_threshold:
        return _driver_union_find(edges.sparkSession, head)
    del head  # the star rounds run on the executors, not the driver
    prev_sig = None
    converged = False
    for _ in range(max_iter):
        e = _small_star(_large_star(e)).localCheckpoint()
        sig = _signature(e)
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        # labels from a non-converged star graph can split components with
        # no error signal — fail loudly instead (round-1 advisor finding)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "alternating star rounds; raise max_iter (expected O(log n))"
        )
    # converged star graph: every edge points node → component root
    members = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = e.select(F.col("dst").alias("node"), F.col("dst").alias("component"))
    return members.union(roots).groupBy("node").agg(
        F.min("component").alias("component")
    )

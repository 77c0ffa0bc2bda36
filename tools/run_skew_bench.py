#!/usr/bin/env python
"""Adversarial-skew benchmark for the graph-analytics layer (round-4
verdict next-step #7): run triangles / sameAs / LPA / 2-hop-sketch /
profile rollups on a synthetic edge table where ONE entity appears in 50%
of all edges, and measure (a) wall time and (b) the distribution each
operator's documented hub defense is supposed to bound:

- triangles: max oriented out-degree after degree-ordering (the wedge-join
  fan-out key) — orientation must push hub wedges to the low-degree side;
- sameAs: max candidate pairs emitted per mid node — the mid-degree cap
  must exclude the hub from candidate generation;
- LPA: rows per shuffle partition of the pre-partitioned static neighbor
  table — hash partitioning must spread the hub's neighbor rows;
- 2-hop sketch: sketch rows per partition of the hop join — bounded by
  |E| with one sketch row per edge regardless of hub degree;
- profile/daily rollups: partial-aggregated groups, skew-free by design.

The skew gate mirrors the verdict wording: for every measured per-task
(per-partition) input distribution, max ≤ 4× median (medians computed over
non-empty partitions). Partition row counts are measured with
spark_partition_id() on the SAME DataFrame lineage the operator shuffles.

Usage: python tools/run_skew_bench.py [--edges 1000000] [--cpus 16]
Prints one JSON line; paste the table into BENCH.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_skewed_edges(spark, n_edges: int, hot_share: float = 0.5):
    """Deterministic skewed edge table: ``hot_share`` of edges touch the
    single hub entity E_HUB (alternating role), the rest connect a uniform
    id space ~ n_edges/10 wide. md5-hash randomness, no RNG state."""
    from pyspark.sql import functions as F

    n_nodes = max(1000, n_edges // 10)
    base = spark.range(0, n_edges, 1, 64).select(F.col("id"))
    h = lambda salt: F.conv(  # noqa: E731
        F.substring(F.md5(F.concat_ws("|", F.lit(salt), F.col("id"))), 1, 15),
        16,
        10,
    ).cast("long")
    is_hot = (h("hot") % 100) < int(hot_share * 100)
    u = F.concat(F.lit("E"), F.lpad((h("u") % n_nodes).cast("string"), 7, "0"))
    v = F.concat(F.lit("E"), F.lpad((h("v") % n_nodes).cast("string"), 7, "0"))
    hub = F.lit("E_HUB")
    subj = F.when(is_hot & ((h("role") % 2) == 0), hub).otherwise(u)
    obj = F.when(is_hot & ((h("role") % 2) == 1), hub).otherwise(v)
    day = F.concat(
        F.lit("2025-01-"), F.lpad(((h("day") % 28) + 1).cast("string"), 2, "0")
    )
    main = base.select(
        subj.alias("subj_id"),
        F.concat(F.lit("p"), (h("pred") % 12).cast("string")).alias("pred"),
        obj.alias("obj_id"),
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        F.timestamp_seconds(F.lit(1735689600) + (h("ts") % 86400)).alias(
            "warc_ts"
        ),
        day.alias("day"),
    ).where(F.col("subj_id") != F.col("obj_id"))
    # sameAs defense probes: PROBE_A/PROBE_B share ONLY the hub as a
    # neighbor (must NOT become a candidate pair — the hub is excluded
    # from candidate generation); PROBE_C/PROBE_D share only a dedicated
    # cold mid (MUST become a candidate, jaccard 1.0)
    import datetime

    ts0 = datetime.datetime(2025, 1, 1)
    probes = spark.createDataFrame(
        [
            ("PROBE_A", "p0", "E_HUB", "up1", ts0, "2025-01-01"),
            ("PROBE_B", "p0", "E_HUB", "up2", ts0, "2025-01-01"),
            ("PROBE_C", "p0", "PROBE_MID", "up3", ts0, "2025-01-01"),
            ("PROBE_D", "p0", "PROBE_MID", "up4", ts0, "2025-01-01"),
        ],
        "subj_id string, pred string, obj_id string, url string,"
        " warc_ts timestamp, day string",
    )
    return main.unionAll(probes)


def partition_rows(df):
    """(max, median) rows per non-empty partition of df AS PARTITIONED."""
    from pyspark.sql import functions as F

    rows = (
        df.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    counts = sorted(r["n"] for r in rows)
    if not counts:
        return 0, 0
    return counts[-1], counts[len(counts) // 2]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--edges", type=int, default=1_000_000)
    ap.add_argument("--cpus", type=int, default=16)
    ap.add_argument("--hot-share", type=float, default=0.5)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from kgforge.graph.analytics import (
        SAMEAS_MID_DEGREE_CAP,
        _undirected,
        both_ways,
        daily_active_nodes_approx,
        directed_pairs,
        endpoint_degree,
        entity_profile_table_approx,
        label_propagation,
        sameas_candidates,
        triangle_counts,
        two_hop_reach_approx,
    )
    from kgforge.session import get_spark

    spark = get_spark(
        "kgforge-skew-bench",
        master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus * 2,
    )
    edges = build_skewed_edges(spark, args.edges, args.hot_share).localCheckpoint()
    n_edges = edges.count()
    hub_deg = edges.where(
        (F.col("subj_id") == "E_HUB") | (F.col("obj_id") == "E_HUB")
    ).count()

    out: dict = {
        "n_edges": n_edges,
        "hub_edge_share": round(hub_deg / n_edges, 4),
        "cpus": args.cpus,
        "ops": {},
    }

    def run(name, fn):
        t0 = time.perf_counter()
        n = fn().count()
        out["ops"][name] = {"sec": round(time.perf_counter() - t0, 3), "rows": n}

    run("triangles", lambda: triangle_counts(edges))
    run("sameas_candidates", lambda: sameas_candidates(edges))
    run("lpa_communities", lambda: label_propagation(edges))
    run("two_hop_sketch", lambda: two_hop_reach_approx(edges))
    run("profile_sketch", lambda: entity_profile_table_approx(edges))
    run("daily_nodes_sketch", lambda: daily_active_nodes_approx(edges))

    # --- defense distributions (the quantity each mitigation bounds) ----
    und = _undirected(edges).localCheckpoint()
    deg = endpoint_degree(und, "u", "v")
    okey = F.concat(F.lpad(F.col("degree").cast("string"), 10, "0"), F.col("node"))
    keyed = (
        und.join(deg.withColumnRenamed("node", "u"), "u")
        .withColumnRenamed("degree", "du")
        .join(
            deg.select(F.col("node").alias("v"), F.col("degree").alias("dv")), "v"
        )
    )
    low_key = F.when(
        F.concat(F.lpad(F.col("du").cast("string"), 10, "0"), F.col("u"))
        < F.concat(F.lpad(F.col("dv").cast("string"), 10, "0"), F.col("v")),
        F.col("u"),
    ).otherwise(F.col("v"))
    out_deg = keyed.select(low_key.alias("lo")).groupBy("lo").agg(
        F.count(F.lit(1)).alias("od")
    )
    row = out_deg.agg(
        F.max("od").alias("mx"), F.expr("percentile(od, 0.5)").alias("md")
    ).collect()[0]
    hub_und = und.where((F.col("u") == "E_HUB") | (F.col("v") == "E_HUB")).count()
    out["triangles_oriented_outdeg"] = {
        "max": int(row["mx"]),
        "median": float(row["md"]),
        "hub_undirected_degree": hub_und,
    }

    cand_per_mid = (
        deg.where(F.col("degree") <= SAMEAS_MID_DEGREE_CAP)
        .select(
            (F.col("degree") * (F.col("degree") - 1) / 2).alias("pairs")
        )
        .agg(F.max("pairs").alias("mx"))
        .collect()[0]["mx"]
    )
    out["sameas_max_pairs_per_mid"] = int(cand_per_mid or 0)
    # OUTPUT-level defense probe (round-5 review pass 2: degree-threshold
    # assertions were true by fixture construction and gated nothing):
    # the planted (PROBE_A, PROBE_B) pair shares ONLY the hub — if the
    # mid-degree cap in sameas_candidates regressed, the hub generates
    # their jaccard-1.0 candidate and it ranks top; (PROBE_C, PROBE_D)
    # share only a cold mid and must be found.
    sameas_pairs = {
        (r["e1"], r["e2"])
        for r in sameas_candidates(edges, top=1_000_000).collect()
    }
    out["sameas_probe_cold_found"] = ("PROBE_C", "PROBE_D") in sameas_pairs
    out["sameas_probe_hub_only_excluded"] = (
        "PROBE_A",
        "PROBE_B",
    ) not in sameas_pairs

    # LPA static neighbor table: both directions, hash-partitioned on the
    # join key (node) — the exact pre-partitioning the implementation uses
    nbrs = both_ways(und, "u", "v").repartition(args.cpus * 2, "node")
    mx, md = partition_rows(nbrs)
    out["lpa_neighbor_partition_rows"] = {"max": mx, "median": md}

    # 2-hop sketch hop join: the COLD side after the hot-dst split is what
    # actually shuffles by dst (hot dsts take the broadcast path) —
    # replicate the operator's own split and measure its residual skew
    from kgforge.graph.analytics import TWO_HOP_HOT_K, TWO_HOP_HOT_MIN_DEGREE

    e_dir = directed_pairs(edges)
    hot_dsts = (
        e_dir.groupBy("dst")
        .agg(F.count(F.lit(1)).alias("ind"))
        .where(F.col("ind") >= TWO_HOP_HOT_MIN_DEGREE)
        .orderBy(F.desc("ind"), F.asc("dst"))
        .limit(TWO_HOP_HOT_K)
        .select("dst")
    )
    n_hot = hot_dsts.count()
    cold = e_dir.join(F.broadcast(hot_dsts), "dst", "left_anti").repartition(
        args.cpus * 2, "dst"
    )
    mx2, md2 = partition_rows(cold)
    out["two_hop_cold_partition_rows"] = {
        "max": mx2,
        "median": md2,
        "hot_dsts_broadcast": n_hot,
    }

    gate_ok = (
        mx <= 4 * max(md, 1)
        and mx2 <= 4 * max(md2, 1)
        and out["triangles_oriented_outdeg"]["max"]
        < out["triangles_oriented_outdeg"]["hub_undirected_degree"] / 4
        and out["sameas_probe_cold_found"]
        and out["sameas_probe_hub_only_excluded"]
    )
    out["skew_gate_max_le_4x_median"] = bool(gate_ok)
    print(json.dumps(out))
    spark.stop()
    return 0 if gate_ok else 1


if __name__ == "__main__":
    sys.exit(main())

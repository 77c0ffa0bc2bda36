#!/usr/bin/env python
"""Regenerate PLANS.md: live `.explain("formatted")` output for the
flagship plans (plan-shape assertions live in tests/test_plans.py)."""

from __future__ import annotations

import contextlib
import io
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    # the edge tables the plans read live only as long as the run
    with tempfile.TemporaryDirectory(prefix="kgforge_plans_") as tmp:
        return _dump(tmp)


def _dump(tmp: str) -> int:
    from kgforge.fixtures.gen import gen_alias_rows, gen_webdocs_rows
    from kgforge.queries import q_revenue_topk, q_scan_dropna
    from kgforge.session import get_spark
    from kgforge.stages.canonicalize import mention_map, rewrite_triples
    from kgforge.stages.docstream import extract_docstream
    from kgforge.stages.link import alias_resolution

    spark = get_spark("plans", master="local[4]", shuffle_partitions=8)
    docs = spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["text"], r["lang"]) for r in gen_webdocs_rows(50)],
        "url string, warc_ts timestamp, text string, lang string",
    )
    alias_df = spark.createDataFrame(
        [(r["alias"], r["entity_id"], r["canon"], r["prior"]) for r in gen_alias_rows(50)],
        "alias string, entity_id string, canon string, prior double",
    )
    mmap = mention_map(alias_resolution(alias_df))

    out = [
        '# PLANS — captured physical plans (live `.explain("formatted")` output)',
        "",
        "Regenerate with `python tools/dump_plans.py > PLANS.md`.",
        "",
    ]

    def dump(title: str, df, note: str):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        out.extend([f"## {title}", "", note, "", "```", buf.getvalue()[:4000], "```", ""])

    dump(
        "KG document stream (fused) + canonical rewrite",
        rewrite_triples(extract_docstream(docs), mmap),
        "One Python stage, broadcast-only joins, ZERO stream-side exchanges — "
        "the 100-TB path never shuffles (asserted in tests/test_plans.py).",
    )
    sf = "/root/testdata/sf0.001"
    dump(
        "revenue_topk (3-way join + grouped top-k)",
        q_revenue_topk(spark, sf),
        "Dimensions broadcast; no sort-merge join; one shuffle for the "
        "grouped aggregate + top-k sort.",
    )
    dump(
        "scan_dropna (filter + projection pushdown)",
        q_scan_dropna(spark, sf),
        "Filters and the 3-column projection reach the parquet scan "
        "(PushedFilters / ReadSchema).",
    )
    from kgforge.queries import q_embedding_near_dup

    dump(
        "embedding_near_dup (LSH-bucketed, no cartesian)",
        q_embedding_near_dup(spark, sf),
        "Pair generation is an equi-join on (band, bucket); the only "
        "nested-loop join is the constant 32×64 planes build. No "
        "CartesianProduct over vectors (asserted in tests/test_near_dup.py).",
    )
    from kgforge.stages.extract import sentences
    from kgforge.stages.link import scan_mentions
    from kgforge.stages.normalize import normalize

    aliases = sorted(r["alias"] for r in gen_alias_rows(50))
    dump(
        "gazetteer mention scan (kg_mentions core)",
        scan_mentions(sentences(normalize(docs)), aliases),
        "Three chained narrow stages (normalize mapInPandas → JVM sentence "
        "split → matcher mapInPandas) — zero shuffles; dictionary ships in "
        "the closure.",
    )
    from kgforge.graph.temporal import materialize_edges_by_day, window_subgraph_topk
    from kgforge.stages.canonicalize import edges_with_day

    edges_path = os.path.join(tmp, "edges_by_day")
    materialize_edges_by_day(
        edges_with_day(rewrite_triples(extract_docstream(docs), mmap)), edges_path
    )
    dump(
        "kg_window_subgraph (day-partitioned read, pruned)",
        window_subgraph_topk(spark, edges_path),
        "The day window is a PartitionFilter on the scan — out-of-window "
        "day directories are never opened (scan cost ∝ window, asserted in "
        "tests/test_temporal.py). The committed read of a small version is "
        "coalesced to one partition, so the filter pushes below the Coalesce "
        "and the count + top-k plan no exchange (tests/test_plans.py).",
    )
    edges = edges_with_day(rewrite_triples(extract_docstream(docs), mmap))
    from kgforge.extract.predicates import canonicalize_predicates
    from kgforge.graph.analytics import (
        entity_profile,
        triangle_counts,
        two_hop_reach_approx,
    )

    dump(
        "kg_pred_canon (distinct-set broadcast map)",
        canonicalize_predicates(edges),
        "The canonical-predicate map (built driver-side on the bounded "
        "distinct predicate set) returns as a BroadcastHashJoin — the edge "
        "stream never shuffles for this stage (asserted in "
        "tests/test_graph_analytics.py).",
    )
    dump(
        "kg_entity_profile (single-shuffle rollup)",
        entity_profile(edges),
        "Union of both role projections → one grouped aggregation with "
        "map-side partial agg; no joins.",
    )
    dump(
        "kg_triangles (degree-ordered orientation)",
        triangle_counts(edges),
        "Wedges enumerate at the lowest-(degree,node) endpoint of each "
        "edge (sortable zeropad(deg)|node keys); the oriented set is "
        "materialized once for its three plan branches. No "
        "CartesianProduct.",
    )
    dump(
        "kg_two_hop_sketch (HLL, one sketch row per edge)",
        two_hop_reach_approx(edges),
        "hll_sketch_agg per node + hll_union_agg per seed: the hop join "
        "moves |E| sketch rows, never the quadratic wedge fan-out "
        "(tolerance-gated vs the exact plan in tests).",
    )
    bare_edges = edges.select("subj_id", "pred", "obj_id")
    from kgforge.graph.bgp import match_bgp

    dump(
        "match_bgp chain (keyed joins, pushed predicates)",
        match_bgp(
            bare_edges,
            [("?a", "acquired", "?b"), ("?b", "works at", "?c")],
        ),
        "Each pattern's constant predicate reaches its scan as a filter; "
        "the conjunction is one keyed equi-join on the shared variable — "
        "no CartesianProduct, no trailing distinct (set semantics argued "
        "in bgp.py, gated in tests/test_bgp.py).",
    )
    from kgforge.graph.wcoj import match_bgp_cycle

    dump(
        "match_bgp_cycle (HyperCube + cell-local generic join)",
        match_bgp_cycle(
            bare_edges,
            [
                ("?a", "works at", "?b"),
                ("?b", "acquired", "?c"),
                ("?c", "works at", "?a"),
            ],
            shares=2,
        ),
        "Three filtered projections explode along their free cube axis "
        "and union; ONE exchange (the groupBy on the 3 cell coordinates) "
        "feeds the Arrow generic-join stage — the wedge set is never "
        "materialized or shuffled (cells provably disjoint, "
        "tests/test_wcoj.py).",
    )
    from kgforge.graph.paths import reachable_from
    from kgforge.graph.serving import serving_edges

    served_path = os.path.join(tmp, "edges_served")
    bare_edges.write.parquet(served_path)
    served = spark.read.parquet(served_path)
    serving_edges(served)
    serving_edges(served)  # the second sighting snapshots the version
    dump(
        "match_bgp chain over the serving snapshot",
        match_bgp(
            served,
            [("?a", "acquired", "?b"), ("?b", "works at", "?c")],
        ),
        "A repeated call reads the version's distinct localCheckpointed "
        "snapshot (Scan ExistingRDD): no parquet scan and no per-pattern "
        "dedup, so no Aggregate — the snapshot is a set (serving.py, "
        "gated in tests/test_plans.py).",
    )
    source = served.orderBy("subj_id").first()["subj_id"]
    dump(
        "reachable_from, 4 hops over the serving snapshot",
        reachable_from(served, source, None, max_hops=4),
        "One plan for the whole BFS: hop 1 is the source's pairs with no "
        "aggregate of its own; each later hop left-joins the frontier with "
        "the pair relation (one shared broadcast) and keeps min(hops) per "
        "node. The snapshot of a small version is one partition, so no "
        "hop aggregate plans a hash exchange (tests/test_plans.py).",
    )
    print("\n".join(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

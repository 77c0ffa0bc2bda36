"""Graph analytics over the canonical edge table — entity profiles, 2-hop
reach, triangle counting, label-propagation communities.

Target-only operators (SURVEY.md §2.11 family): the reference has no graph
store; these are the standard serving queries a KG built at crawl scale
must answer without touching raw documents. All four are pure DataFrame
plans (no Python in the hot path); the iterative one (label propagation)
follows the same driver-side fixpoint pattern as kgforge.graph.cc and
kgforge.graph.pagerank (synchronous updates + ``localCheckpoint`` lineage
truncation).

Three derived relations are each written once, here, and every graph
operator (these, kgforge.graph.cc / pagerank / temporal, the streaming
degree table and the contract entry) builds on them: ``directed_pairs``
(distinct directed src != dst pairs), ``both_ways`` (every row in both
orientations) and ``endpoint_degree`` (per-node endpoint count, a
self-loop counted twice); ``_undirected`` is the undirected edge set.

Scale notes per operator:
- ``entity_profile``: one union + one grouped aggregation — a single
  shuffle on ``node`` with map-side partial aggregation; no joins.
- ``two_hop_reach``: the wedge join is the classic hub-explosion hazard;
  both hop sets are DISTINCT-ed before the union so the join output is
  bounded by the distinct wedge count, and AQE's skew-join splitting
  handles the hot-entity key (the fixture plants one in ~30% of docs).
- ``triangle_counts``: degree-ordered orientation (Latapy's compact-
  forward / the standard MR triangle trick): orient every undirected edge
  from the (degree, node)-smaller endpoint to the larger, so each wedge is
  enumerated exactly once AT the lowest-degree vertex — the join fan-out
  per node is O(d_min²) instead of O(d_max²), which is what keeps hub
  vertices from exploding the shuffle at web scale.
- ``label_propagation``: synchronous min-of-(count desc, label) updates are
  deterministic (no async race like classic LPA); each iteration is one
  broadcast join of the label table + one deterministic ``mode``
  aggregation keyed on ``node`` — no exchange per round while the label
  table fits the broadcast cap (one per round above it).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _edge_roles(edges_day_df: DataFrame) -> DataFrame:
    """Both role rows per assertion — (subj as out, obj as in) — via one
    in-row explode instead of a unionAll of two selects (round-6): the
    union form scanned the parquet edge table twice; explode fans each
    scanned row out in place, same multiset."""
    return edges_day_df.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("subj_id").alias("node"),
                    F.col("pred").alias("pred"),
                    F.col("day").alias("day"),
                    F.lit(1).alias("is_out"),
                ),
                F.struct(
                    F.col("obj_id").alias("node"),
                    F.col("pred").alias("pred"),
                    F.col("day").alias("day"),
                    F.lit(0).alias("is_out"),
                ),
            )
        ).alias("r")
    ).select("r.node", "r.pred", "r.day", "r.is_out")


def entity_profile_table(edges_day_df: DataFrame) -> DataFrame:
    """FULL per-entity activity profile over the assertion stream (NOT
    distinct edges — a profile counts assertions): out/in edge counts,
    distinct predicate count, first/last crawl day. Unordered — this is
    the materialization shape (the pipeline's ``entity_profile`` stage);
    ``entity_profile`` below adds the top-k presentation."""
    roles = _edge_roles(edges_day_df)
    return roles.groupBy("node").agg(
        F.sum("is_out").alias("out_edges"),
        F.sum(1 - F.col("is_out")).alias("in_edges"),
        F.count_distinct("pred").alias("n_preds"),
        F.min("day").alias("first_day"),
        F.max("day").alias("last_day"),
    )


def entity_profile(edges_day_df: DataFrame, k: int = 20) -> DataFrame:
    """Top-k entity profiles by total activity (see entity_profile_table).
    Columns: node, out_edges, in_edges, n_preds, first_day, last_day."""
    return entity_profile_table(edges_day_df).orderBy(
        F.desc(F.col("out_edges") + F.col("in_edges")), F.asc("node")
    ).limit(k)


def entity_profile_table_approx(
    edges_day_df: DataFrame, lg_k: int = 12
) -> DataFrame:
    """Sketch twin of ``entity_profile_table`` (round-5, BACKLOG #12 /
    round-4 verdict #6, the two_hop_reach_approx pattern): the exact
    ``count_distinct("pred")`` becomes a DataSketches HLL estimate. The
    exact form shuffles one distinct (node, pred) row per surviving pair;
    at crawl scale a hub node's distinct-predicate set is rebuilt on every
    incremental recompute, while the sketch aggregates map-side into a
    constant-size buffer per node and unions associatively — the shape
    that also lets profiles be maintained INCREMENTALLY by unioning
    per-partition sketches instead of re-deduplicating history. Standard
    error ≈ 1.04/√2^lg_k (~1.6% at lg_k=12). All other columns are exact
    and identical to the exact twin. Columns: node, out_edges, in_edges,
    n_preds_est (double), first_day, last_day."""
    roles = _edge_roles(edges_day_df)
    return roles.groupBy("node").agg(
        F.sum("is_out").alias("out_edges"),
        F.sum(1 - F.col("is_out")).alias("in_edges"),
        F.hll_sketch_estimate(F.hll_sketch_agg("pred", F.lit(lg_k)))
        .cast("double")
        .alias("n_preds_est"),
        F.min("day").alias("first_day"),
        F.max("day").alias("last_day"),
    )


def daily_active_nodes(edges_day_df: DataFrame) -> DataFrame:
    """Exact distinct active nodes (either role) per crawl day.
    Columns: day, n_nodes. At crawl scale the exact form must shuffle the
    full distinct (day, node) set — |V| rows PER DAY — which is the
    canonical HLL use case; the approx twin below is the serving path."""
    nodes = edges_day_df.select(
        "day", F.explode(F.array("subj_id", "obj_id")).alias("node")
    )
    return nodes.groupBy("day").agg(
        F.count_distinct("node").alias("n_nodes")
    )


def daily_active_nodes_approx(
    edges_day_df: DataFrame, lg_k: int = 12
) -> DataFrame:
    """HLL twin of ``daily_active_nodes``: per-day sketches build map-side
    (constant bytes per day per task, no (day, node) dedup shuffle) and
    union associatively — day partitions can each carry a persisted sketch
    that rolls up to arbitrary windows without touching node ids again.
    Columns: day, n_nodes_est (double)."""
    nodes = edges_day_df.select(
        "day", F.explode(F.array("subj_id", "obj_id")).alias("node")
    )
    return nodes.groupBy("day").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("node", F.lit(lg_k)))
        .cast("double")
        .alias("n_nodes_est")
    )


def two_hop_reach(edges_df: DataFrame, k: int = 20) -> DataFrame:
    """Distinct nodes reachable in 1 or 2 directed hops (seed excluded),
    per seed; top-k by (reach desc, node). Columns: node, reach."""
    e = directed_pairs(edges_df)
    a, b = e.alias("a"), e.alias("b")
    hop2 = (
        a.join(b, F.col("a.dst") == F.col("b.src"))
        .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
        .distinct()
    )
    reach = (
        e.unionAll(hop2)
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("reach"))
    )
    return reach.orderBy(F.desc("reach"), F.asc("node")).limit(k)


# hot-dst split bounds for the 2-hop sketch hop join (round-5 skew bench):
# dsts with in-degree ≥ MIN_DEGREE, capped at the top HOT_K, are joined by
# broadcast instead of shuffle — residual shuffle skew is bounded by the
# (HOT_K+1)-th largest in-degree, and the broadcast is ≤ HOT_K sketches.
TWO_HOP_HOT_K = 1024
TWO_HOP_HOT_MIN_DEGREE = 4096


def two_hop_reach_approx(
    edges_df: DataFrame, k: int = 20, lg_k: int = 12
) -> DataFrame:
    """Sketch-based 2-hop reach — the crawl-scale path beside the exact
    wedge join above (same pairing as ANN brute-force vs LSH-bucketed).

    The exact plan's wedge join emits one row per (src, mid, dst) path —
    O(Σ d_in(m)·d_out(m)), quadratic in hub degree, which is exactly what
    the fixture's 30%-hot entity detonates. Here every node's out-neighbor
    set is first collapsed into a DataSketches HLL sketch
    (``hll_sketch_agg``, Spark ≥3.5 built-in, JVM-side); the hop join then
    moves ONE SKETCH ROW PER EDGE (bounded by |E|, not by wedge count) and
    ``hll_union_agg`` merges per seed. Standard error ≈ 1.04/√2^lg_k
    (~1.6% at the default lg_k=12); sketches for low-degree nodes stay in
    sparse mode, so the shuffled bytes track true neighborhood sizes.

    Semantics deltas vs the exact variant (documented, tested within
    tolerance): estimates are approximate, and the seed itself is not
    subtracted from its own reach (a ≤1 absolute difference).
    Columns: node, reach_est (double).
    """
    # the distinct edge set feeds FOUR plan branches (the degree pre-pass,
    # both hot/cold splits, and the sketch build) and Catalyst does NOT
    # reuse the distinct subtree across them (round-6 plan audit: 3 separate
    # scan+distinct pipelines in the before-plan) — materialize it once,
    # exactly the triangle_counts `oriented` discipline. Size is |E|, the
    # same bounded footprint the hop join itself moves.
    e = directed_pairs(edges_df).localCheckpoint()
    # ONE tagged aggregation builds the out-neighbor sketches AND the
    # in-degrees together (round-6): each edge contributes a (src, dst)
    # row — sketched, null-ignored by the degree sum — and a (dst, NULL)
    # row — ignored by the sketch, counted as in-degree. One 2|E|-row
    # exchange + one materialization replaces the separate sketch
    # aggregation, degree aggregation and their jobs. Per-node output is
    # one fixed-size sketch row, bounded by |V|; it feeds up to three
    # branches (hot filter, cold join, seed union) plus the hot-id
    # pre-pass below.
    per_node = (
        e.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("src").alias("node"), F.col("dst").alias("val")
                    ),
                    F.struct(
                        F.col("dst").alias("node"),
                        F.lit(None).cast("string").alias("val"),
                    ),
                )
            ).alias("t")
        )
        .select("t.node", "t.val")
        .groupBy("node")
        .agg(
            F.hll_sketch_agg("val", F.lit(lg_k)).alias("sk"),
            F.count("val").alias("outd"),  # count(col) skips the NULL rows
            F.sum(F.when(F.col("val").isNull(), 1).otherwise(0)).alias("ind"),
        )
        .localCheckpoint()
    )
    # only nodes WITH out-edges carry a (non-empty) sketch — identical
    # row set to the previous src-only aggregation (verified: the HLL agg
    # ignores NULLs, so the sketch bytes match the filtered build)
    nbr_sk = per_node.where(F.col("outd") > 0).select("node", "sk")
    # hop join with a hot/cold dst split (round-5 skew bench): the join
    # shuffles edges BY DST, so a crawl hub's entire in-neighborhood lands
    # in one task (measured 7.3× the median partition at a 50%-hot fixture)
    # — the one residual skew the sketch rewrite alone doesn't remove. The
    # top-K hottest dsts (bounded broadcast: ≤ TWO_HOP_HOT_K sketches ≈ a
    # few MB at lg_k=12) take a broadcast map-side join that never shuffles
    # their edges; everything else shuffles normally, with residual
    # per-task input bounded by the (K+1)-th largest in-degree. Same
    # hot/cold discipline as sameas_candidates' exact-verify split.
    # the hot set is collected to the driver ONCE (bounded: ≤ TWO_HOP_HOT_K
    # ids — round-5 review finding #4: referencing the hot_dsts DataFrame
    # from three joins re-ran the degree agg + sort subplan three times,
    # and hub-free graphs still paid two extra joins). With a literal id
    # list, hot/cold become isin() FILTERS on the edge scan, and the split
    # disappears entirely when no dst exceeds the threshold.
    hot_ids = [
        r["node"]
        for r in (
            per_node.where(F.col("ind") >= TWO_HOP_HOT_MIN_DEGREE)
            .select("node", "ind")
            .orderBy(F.desc("ind"), F.asc("node"))
            .limit(TWO_HOP_HOT_K)
            .collect()
        )
    ]
    if hot_ids:
        e_hot = e.where(F.col("dst").isin(hot_ids))
        e_cold = e.where(~F.col("dst").isin(hot_ids))
        hot_sk = nbr_sk.where(F.col("node").isin(hot_ids))
        hop_hot = e_hot.join(
            F.broadcast(hot_sk), e_hot["dst"] == hot_sk["node"]
        ).select("src", "sk")
        hop_cold = e_cold.join(nbr_sk, e_cold["dst"] == nbr_sk["node"]).select(
            "src", "sk"
        )
        hop2 = hop_hot.unionAll(hop_cold)
    else:
        hop2 = e.join(nbr_sk, e["dst"] == nbr_sk["node"]).select("src", "sk")
    contribs = hop2.unionAll(nbr_sk.select(F.col("node").alias("src"), "sk"))
    reach = contribs.groupBy(F.col("src").alias("node")).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("double").alias("reach_est")
    )
    return reach.orderBy(F.desc("reach_est"), F.asc("node")).limit(k)


def _undirected(edges_df: DataFrame) -> DataFrame:
    """Distinct undirected edge set as (u, v) with u < v (self-loops out)."""
    return (
        edges_df.select(
            F.least("subj_id", "obj_id").alias("u"),
            F.greatest("subj_id", "obj_id").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def directed_pairs(
    df: DataFrame, src: str = "subj_id", dst: str = "obj_id"
) -> DataFrame:
    """Distinct directed edge set as (src, dst) with src != dst. The
    comparison is NULL for a NULL endpoint, so it drops those rows too:
    Catalyst infers the ``isnotnull`` filters from it."""
    return (
        df.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def both_ways(
    df: DataFrame, a: str, b: str, out: tuple[str, str] = ("node", "nbr")
) -> DataFrame:
    """Every (a, b) row in both orientations, as ``out`` columns; no dedup.
    One in-row explode, not a unionAll of two selects: the union form
    embeds (and so computes) its input twice, the explode scans it once
    for the same multiset."""
    x, y = out
    return df.select(
        F.explode(
            F.array(
                F.struct(F.col(a).alias(x), F.col(b).alias(y)),
                F.struct(F.col(b).alias(x), F.col(a).alias(y)),
            )
        ).alias("p")
    ).select(f"p.{x}", f"p.{y}")


def endpoint_degree(df: DataFrame, a: str, b: str, *keys: str) -> DataFrame:
    """(keys…, node, degree): how many rows of ``df`` have node as the
    ``a`` or the ``b`` endpoint, per ``keys``. A self-loop counts twice.
    A NULL endpoint is not a node, as in ``directed_pairs``,
    ``_undirected`` and CC: it gets no row, and the row's other endpoint
    still counts. One in-row explode of the two endpoints, so ``df`` is
    computed once."""
    return (
        df.select(*keys, F.explode(F.array(a, b)).alias("node"))
        .where(F.col("node").isNotNull())
        .groupBy(*keys, "node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def triangle_counts(edges_df: DataFrame, k: int = 20) -> DataFrame:
    """Per-node triangle participation counts on the undirected distinct
    graph, top-k by (n_triangles desc, node). Columns: node, n_triangles.

    Degree-ordered orientation: each undirected edge points from the
    (degree, node)-lexicographically smaller endpoint to the larger —
    encoded as a sortable string key ``zeropad(degree)|node`` so the
    orientation is a plain column comparison, no rank assignment (a global
    row_number would be a single-task sort bottleneck). Wedges are then
    enumerated only at their lowest-key vertex and closed with one join
    against the oriented edge set.
    """
    # NOTE (round-6): the undirected set feeds 3 plan branches here, but
    # checkpointing it (and deg) measured SLOWER and more erratic than the
    # recompute (A/B same-session: old 3.9-6.5s, checkpointed 6.3-13.6s at
    # bench scale) — the three branches overlap inside one job and keep
    # the cores busy, while eager checkpoints serialize the DAG into
    # sequential jobs + block-store writes. Deliberately left lazy; only
    # `oriented` (below), which gates three DOWNSTREAM branches after a
    # multi-join pipeline, is materialized.
    und = _undirected(edges_df)
    deg = (
        endpoint_degree(und, "u", "v")
        .withColumn(
            "okey", F.concat(F.lpad(F.col("degree"), 12, "0"), F.lit("|"), F.col("node"))
        )
        .select("node", "okey")
    )
    keyed = (
        und.join(deg.withColumnRenamed("node", "u").withColumnRenamed("okey", "ku"), "u")
        .join(deg.withColumnRenamed("node", "v").withColumnRenamed("okey", "kv"), "v")
    )
    # the oriented edge set feeds THREE plan branches (both wedge sides +
    # the closing join); materialize it once — without this the whole
    # degree-attach pipeline re-executes per branch (observed 3× recompute,
    # 24 sort-merge joins in one plan at bench scale). Size is exactly |E|:
    # the same bounded footprint any production triangle count materializes
    # for its oriented adjacency.
    oriented = keyed.select(
        F.when(F.col("ku") < F.col("kv"), F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(F.col("ku") < F.col("kv"), F.col("v")).otherwise(F.col("u")).alias("hi"),
        F.when(F.col("ku") < F.col("kv"), F.col("kv")).otherwise(F.col("ku")).alias("khi"),
    ).localCheckpoint()
    w1, w2 = oriented.alias("w1"), oriented.alias("w2")
    wedges = w1.join(
        w2,
        (F.col("w1.lo") == F.col("w2.lo")) & (F.col("w1.khi") < F.col("w2.khi")),
    ).select(
        F.col("w1.lo").alias("x"),
        F.col("w1.hi").alias("y"),
        F.col("w2.hi").alias("z"),
    )
    closer = oriented.select(
        F.col("lo").alias("y"), F.col("hi").alias("z")
    )
    tris = wedges.join(closer, ["y", "z"], "inner")
    # each triangle credits all three vertices. In-row explode instead of
    # a 3-way unionAll of selects over ``tris`` (round-6): the union form
    # embeds the wedge-close join subtree THREE times and Spark reuses
    # only the exchanges feeding it, not the join itself — the most
    # expensive stage of the query ran 3×. explode fans the same rows out
    # inside one pass of a single join execution; the multiset of node
    # credits is identical by construction.
    per_node = (
        tris.select(
            F.explode(F.array(F.col("x"), F.col("y"), F.col("z"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return per_node.orderBy(F.desc("n_triangles"), F.asc("node")).limit(k)


def label_propagation_labels(
    edges_df: DataFrame, iterations: int = 5
) -> DataFrame:
    """Deterministic synchronous label propagation on the undirected
    distinct graph: every node starts as its own label; each round a node
    adopts its neighborhood's most frequent label (ties → lexicographic
    min). Returns the FULL (node, label) assignment — the materialization
    shape (pipeline's ``communities`` stage); ``label_propagation`` below
    presents community sizes."""
    # pre-partition the (static) neighbor table ONCE and materialize:
    # localCheckpoint preserves the partitioning, so the per-round plans
    # reuse it instead of re-shuffling the big side every round. Built in
    # ONE exchange (round-6): mirror the raw directed pairs both ways
    # FIRST, pick the partition key, and dedup with dropDuplicates — hash
    # partitioning on EITHER single column already clusters every
    # (node, nbr) duplicate, so the dedup aggregate runs in place instead
    # of adding a second (distinct-then-repartition) shuffle.
    sym = both_ways(edges_df, "subj_id", "obj_id").where(
        F.col("node") != F.col("nbr")
    )
    # Layout choice (round-6, guide §2/§3): the per-round label table is
    # one row per NODE — when it is small enough to broadcast, the round
    # join needs no co-partitioning at all, so partitioning the static
    # table by ``node`` instead lets each round's mode aggregation
    # (groupBy node) run IN PLACE: zero exchanges per round (the only
    # per-round data movement is the ~|V|-row broadcast). When |V| is too
    # big to broadcast (the 100-TB regime), keep the ``nbr`` layout: the
    # label table shuffles to the static table's partitioning each round
    # and the mode aggregation pays its one exchange — the prior shape.
    # |V| is measured with one cheap approx_count_distinct pre-pass (a
    # narrow scan + tiny final agg); the cap is rows, not bytes, and is
    # env-overridable for cluster deployments.
    broadcast_cap = int(os.environ.get("KGFORGE_LPA_BROADCAST_NODES", "2000000"))
    n_nodes = sym.agg(F.approx_count_distinct("node").alias("n")).first()["n"]
    bcast_labels = n_nodes <= broadcast_cap
    # persist + eager count, NOT localCheckpoint: a checkpointed RDD scan
    # reports UnknownPartitioning (measured — plans/r06), so every round
    # re-shuffled the big side despite the pre-partitioning; an
    # InMemoryRelation keeps its outputPartitioning visible to the
    # planner, so in the broadcast layout the per-round mode aggregation
    # (groupBy node over the hash(node)-clustered cache) runs with NO
    # exchange at all. The cache lives for this query's lineage only —
    # nothing persists across bench runs (fresh session each run).
    # the eager count() below materializes the cache BEFORE the rounds
    # are planned: the cached build is an AdaptiveSparkPlan whose final
    # partitioning is unknown until executed, so with a lazy persist the
    # planner re-inserts the per-round mode exchange into the fully-lazy
    # round chain; with the cache materialized first, every round
    # compiles to the mode aggregation directly over the broadcast join
    # — zero exchanges per round (plans/r06/kg_communities_after.txt).
    nbrs = (
        sym.repartition("node" if bcast_labels else "nbr")
        .dropDuplicates()
        .persist()
    )
    nbrs.count()
    if iterations <= 0:
        return nbrs.select("node").distinct().withColumn("label", F.col("node"))
    labels = None
    for it in range(iterations):
        if labels is None:
            # round 1 fused (round-6): every node starts as its own
            # label, so the first round's message (node, label(nbr)) IS
            # the neighbor table itself — skip both the label-init
            # distinct and the round-1 join outright.
            nbr_labels = nbrs.select("node", F.col("nbr").alias("nbr_label"))
        else:
            lbl = labels.withColumnRenamed("node", "nbr").withColumnRenamed(
                "label", "nbr_label"
            )
            # broadcast-hint only under the node-count cap (see layout
            # note above): the hint keeps the round join partitioning-
            # agnostic so the streamed side's hash(node) layout flows
            # through to the mode aggregation with no exchange.
            nbr_labels = nbrs.join(
                F.broadcast(lbl) if bcast_labels else lbl, "nbr"
            ).select("node", "nbr_label")
        # max count, tie → min label — exactly deterministic MODE.
        # ``mode(col, deterministic=true)`` ("if multiple values have the
        # same greatest frequency, return the smallest") replaces the
        # round-5 two-aggregation form (count per (node, label), then
        # min of (-cnt, label)) with ONE exchange per round instead of
        # two: Mode is a TypedImperativeAggregate with a map-side partial
        # buffer, so per-partition label counts combine before the
        # shuffle (round-6; equivalence pinned by the kg_communities
        # oracle and tests/test_graph_analytics.py).
        labels = nbr_labels.groupBy("node").agg(
            F.mode("nbr_label", True).alias("label")
        )
        # truncate lineage every OTHER round — but only for LONG loops
        # (iterations > 5): per-round eager checkpoints pay one Spark job
        # each, and with the light round-6 round shape (broadcast join +
        # in-place mode aggregation) a fully-lazy 5-round chain measured
        # ~15% faster than the round-4 every-other-round cadence
        # (flip-flop A/B min 3.12 → 2.47 s) — the optimizer handles a
        # 5-join plan fine, and the nested per-round broadcast stages
        # already execute each round exactly once. Long loops keep the
        # cadence: lineage growth is real there. The LAST round always
        # stays lazy: its labels are consumed exactly once by the
        # caller's aggregation.
        if iterations > 5 and it % 2 == 1 and it != iterations - 1:
            labels = labels.localCheckpoint()
    return labels


def label_propagation(
    edges_df: DataFrame, iterations: int = 5, k: int = 20
) -> DataFrame:
    """Community sizes top-k by (size desc, community asc) from
    label_propagation_labels. Columns: community, size."""
    return (
        label_propagation_labels(edges_df, iterations)
        .groupBy(F.col("label").alias("community"))
        .agg(F.count(F.lit(1)).alias("size"))
        .orderBy(F.desc("size"), F.asc("community"))
        .limit(k)
    )


def kcore(
    edges_df: DataFrame, k: int = 3, top: int = 20, max_iter: int | None = None
) -> DataFrame:
    """k-core of the undirected distinct graph: iteratively peel nodes of
    degree < k until a fixpoint; top nodes of the surviving core by
    (in-core degree desc, node asc). Columns: node, degree.

    Driver-side fixpoint over DataFrame rounds (the cc/pagerank pattern):
    each round is one degree aggregation + one semi-join filter of the
    edge set, ``localCheckpoint``-truncated. Peel depth is O(diameter) on
    chain/caterpillar graphs — NOT a small constant — so the default bound
    is edge_count + 2 (every non-final round strictly removes ≥ 1 edge,
    so that many rounds provably reach the fixpoint; round-5 ADVICE: a
    fixed 40-round cap failed computable large sparse graphs). Pass
    ``max_iter`` to bound work explicitly; the loud failure then marks a
    genuinely truncated peel."""
    e = _undirected(edges_df).localCheckpoint()
    prev = e.count()
    cap = max_iter if max_iter is not None else prev + 2
    for _ in range(cap):
        keep = (
            endpoint_degree(e, "u", "v").where(F.col("degree") >= k).select("node")
        )
        e = (
            e.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint()
        )
        n = e.count()
        if n == prev:
            break
        prev = n
    else:
        raise RuntimeError(f"kcore did not converge in {cap} peel rounds")
    return endpoint_degree(e, "u", "v").orderBy(F.desc("degree"), F.asc("node")).limit(top)


# candidate-generation cap for sameAs mining: a mid node of degree d fans
# out d·(d-1)/2 candidate pairs — one crawl-scale hub would dominate the
# join quadratically, exactly like a boilerplate shingle in set-similarity
# joins. Mids above the cap are excluded from candidate GENERATION (the
# standard frequent-token filter; a pair is missed only if EVERY shared
# neighbor is that hot — documented recall tradeoff), while the verify
# step still counts intersections over the FULL adjacency.
SAMEAS_MID_DEGREE_CAP = 64


def sameas_candidates(
    edges_df: DataFrame,
    threshold: float = 0.5,
    top: int = 20,
    mid_cap: int = SAMEAS_MID_DEGREE_CAP,
) -> DataFrame:
    """Entity-resolution candidates from GRAPH CONTEXT: entity pairs whose
    undirected neighborhoods overlap (Jaccard ≥ threshold) are sameAs
    suspects the dictionary missed — the KG-side complement of the
    alias-based linker. Columns: e1, e2, jaccard (e1 < e2).

    Plan: wedge candidate generation through capped-degree mid nodes (one
    self-join keyed on the mid), then exact |N(a)∩N(b)| via a count over
    shared mids of the candidate pairs, sizes broadcast back. Jaccard is
    rounded to 6 decimals for a stable typed compare."""
    und = _undirected(edges_df)
    nbrs = both_ways(und, "u", "v").localCheckpoint()
    sizes = nbrs.groupBy("node").agg(F.count(F.lit(1)).alias("sz"))
    mid_deg = nbrs.groupBy("nbr").agg(F.count(F.lit(1)).alias("mid_deg"))
    capped = nbrs.join(
        mid_deg.where(F.col("mid_deg") <= mid_cap).select("nbr"), "nbr", "left_semi"
    )
    # EXACT intersection without ever joining candidates against the full
    # adjacency (cand × N(e1) exploded at bench scale): every shared
    # neighbor is either sub-cap — counted directly by the wedge join
    # (adjacency rows are distinct, so groupBy-count = # shared sub-cap
    # mids) — or hot, counted by a join against the HOT-ONLY adjacency
    # whose per-pair fan-out is bounded by the (small) hot-mid count.
    a, b = capped.alias("a"), capped.alias("b")
    inter_lo = (
        a.join(
            b,
            (F.col("a.nbr") == F.col("b.nbr"))
            & (F.col("a.node") < F.col("b.node")),
        )
        .groupBy(F.col("a.node").alias("e1"), F.col("b.node").alias("e2"))
        .agg(F.count(F.lit(1)).alias("inter_lo"))
        .localCheckpoint()
    )
    hot_nbrs = nbrs.join(
        mid_deg.where(F.col("mid_deg") > mid_cap).select("nbr"), "nbr", "left_semi"
    )
    ha = hot_nbrs.select(F.col("node").alias("e1"), "nbr")
    hb = hot_nbrs.select(F.col("node").alias("e2"), "nbr")
    inter_hot = (
        inter_lo.select("e1", "e2")
        .join(ha, "e1")
        .join(hb, ["e2", "nbr"])
        .groupBy("e1", "e2")
        .agg(F.count(F.lit(1)).alias("inter_hot"))
    )
    inter = (
        inter_lo.join(inter_hot, ["e1", "e2"], "left")
        .select(
            "e1",
            "e2",
            (
                F.col("inter_lo") + F.coalesce(F.col("inter_hot"), F.lit(0))
            ).alias("inter"),
        )
    )
    za = sizes.select(F.col("node").alias("e1"), F.col("sz").alias("sz1"))
    zb = sizes.select(F.col("node").alias("e2"), F.col("sz").alias("sz2"))
    return (
        inter.join(za, "e1")
        .join(zb, "e2")
        .select(
            "e1",
            "e2",
            F.round(
                F.col("inter")
                / (F.col("sz1") + F.col("sz2") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
        .orderBy(F.desc("jaccard"), F.asc("e1"), F.asc("e2"))
        .limit(top)
    )


def edge_latest_state(edges_df: DataFrame) -> DataFrame:
    """Per-edge latest-wins record: assertion count + the latest
    (warc_ts-epoch, url) witness (ties → max url). THE single definition
    of the upsert semantics — the batch presenter below and the streaming
    maintainer (streaming.ingest.stream_upsert_edge_latest) both build on
    it, so they cannot drift. Columns: subj_id, pred, obj_id, n,
    last(ts, url)."""
    return edges_df.groupBy("subj_id", "pred", "obj_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.max(
            F.struct(F.col("warc_ts").cast("long").alias("ts"), F.col("url"))
        ).alias("last"),
    )


def edge_latest(edges_df: DataFrame, k: int = 20) -> DataFrame:
    """Latest-wins edge attribution (the batch analog of a streaming edge
    upsert): top-k of edge_latest_state by recency. One grouped
    aggregation, single shuffle. Columns: subj_id, pred, obj_id, n,
    last_ts, last_url."""
    return (
        edge_latest_state(edges_df).select(
            "subj_id",
            "pred",
            "obj_id",
            "n",
            F.col("last.ts").alias("last_ts"),
            F.col("last.url").alias("last_url"),
        )
        .orderBy(
            F.desc("last_ts"), F.asc("subj_id"), F.asc("pred"), F.asc("obj_id")
        )
        .limit(k)
    )

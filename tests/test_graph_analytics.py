"""Hand-derived gates for the round-4 graph-analytics suite (entity
profiles, 2-hop reach, degree-ordered triangle counting, synchronous label
propagation, latest-wins edge upsert) and predicate canonicalization.

All expected values below are computed BY HAND from the documented
semantics — independent of both the Spark implementations and the
pure-Python oracle twins in kgforge.fixtures.expected (which use their own
third method where feasible, e.g. edge-wise neighbor intersection for
triangles vs Spark's orientation join)."""

import datetime

import pytest
from pyspark.sql import functions as F

from kgforge.extract.predicates import canonicalize_pred, canonicalize_predicates
from kgforge.graph.analytics import (
    edge_latest,
    entity_profile,
    kcore,
    label_propagation,
    sameas_candidates,
    triangle_counts,
    two_hop_reach,
    two_hop_reach_approx,
)

UTC = datetime.timezone.utc


def _edges(spark, rows):
    """rows: (subj_id, pred, obj_id, url, epoch_s, day)."""
    data = [
        (s, p, o, u, datetime.datetime.fromtimestamp(ts, tz=UTC), d)
        for s, p, o, u, ts, d in rows
    ]
    return spark.createDataFrame(
        data,
        "subj_id string, pred string, obj_id string, url string,"
        " warc_ts timestamp, day string",
    )


def test_entity_profile_hand(spark):
    rows = [
        # a asserts twice (2 preds, days 01/03), receives once (day 02)
        ("a", "acquired", "b", "u1", 100, "2025-01-01"),
        ("a", "founded", "c", "u2", 200, "2025-01-03"),
        ("b", "supplies", "a", "u3", 300, "2025-01-02"),
    ]
    got = [tuple(r) for r in entity_profile(_edges(spark, rows)).collect()]
    assert got == [
        ("a", 2, 1, 3, "2025-01-01", "2025-01-03"),
        ("b", 1, 1, 2, "2025-01-01", "2025-01-02"),
        ("c", 0, 1, 1, "2025-01-03", "2025-01-03"),
    ]


def test_two_hop_hand(spark):
    # a→b→c→d chain + duplicate assertion + self-loop (both ignored)
    rows = [
        ("a", "p", "b", "u", 0, "d"),
        ("a", "p2", "b", "u", 0, "d"),  # duplicate edge collapses
        ("b", "p", "c", "u", 0, "d"),
        ("c", "p", "d", "u", 0, "d"),
        ("d", "p", "d", "u", 0, "d"),  # self-loop excluded
    ]
    got = {r["node"]: r["reach"] for r in two_hop_reach(_edges(spark, rows)).collect()}
    assert got == {"a": 2, "b": 2, "c": 1}  # a:{b,c} b:{c,d} c:{d}


def test_two_hop_sketch_tracks_exact(spark):
    """The HLL variant (the crawl-scale path: one sketch row per edge, no
    wedge fan-out) must estimate within tolerance of the exact wedge join
    on a hub-heavy graph, including a planted hot entity."""
    rows = [("hub", "p", f"n{i}", "u", 0, "d") for i in range(40)]
    rows += [(f"m{i}", "p", "hub", "u", 0, "d") for i in range(25)]
    rows += [(f"n{i}", "p", f"n{i + 1}", "u", 0, "d") for i in range(20)]
    e = _edges(spark, rows)
    exact = {r["node"]: r["reach"] for r in two_hop_reach(e, k=1000).collect()}
    est = {
        r["node"]: r["reach_est"]
        for r in two_hop_reach_approx(e, k=1000).collect()
    }
    assert set(est) == set(exact)
    for node, want in exact.items():
        # ±1 for the undeleted seed + HLL relative error (~1.6% at lg_k=12,
        # exact below the sparse-mode threshold at these set sizes)
        assert abs(est[node] - want) <= 1 + 0.05 * want, (node, est[node], want)


def test_triangles_hand(spark):
    # one triangle {a,b,c} (with a reversed duplicate) + pendant c-d
    rows = [
        ("a", "p", "b", "u", 0, "d"),
        ("b", "p", "a", "u", 0, "d"),  # same undirected edge
        ("b", "p", "c", "u", 0, "d"),
        ("a", "p", "c", "u", 0, "d"),
        ("c", "p", "d", "u", 0, "d"),
    ]
    got = {
        r["node"]: r["n_triangles"]
        for r in triangle_counts(_edges(spark, rows)).collect()
    }
    assert got == {"a": 1, "b": 1, "c": 1}


def test_triangles_two_overlapping(spark):
    # K4 minus one edge: triangles {a,b,c} and {a,c,d} share edge a-c
    rows = [
        ("a", "p", "b", "u", 0, "d"),
        ("a", "p", "c", "u", 0, "d"),
        ("a", "p", "d", "u", 0, "d"),
        ("b", "p", "c", "u", 0, "d"),
        ("c", "p", "d", "u", 0, "d"),
    ]
    got = {
        r["node"]: r["n_triangles"]
        for r in triangle_counts(_edges(spark, rows)).collect()
    }
    assert got == {"a": 2, "b": 1, "c": 2, "d": 1}


def test_label_propagation_hand(spark):
    """Clique {a,b,c} bridged to {d,e}: hand-traced synchronous rounds
    (max-count, tie→min-label) converge to one community of 5 by round 4."""
    rows = [
        ("a", "p", "b", "u", 0, "d"),
        ("a", "p", "c", "u", 0, "d"),
        ("b", "p", "c", "u", 0, "d"),
        ("c", "p", "d", "u", 0, "d"),
        ("d", "p", "e", "u", 0, "d"),
    ]
    got = [tuple(r) for r in label_propagation(_edges(spark, rows)).collect()]
    assert got == [("a", 5)]


def test_kcore_hand(spark):
    """K4 {a,b,c,d} + pendant chain d-e-f: the 3-core is exactly the K4
    (e peels first at degree 2, then f is isolated and peels too)."""
    rows = [
        ("a", "p", "b", "u", 0, "d"), ("a", "p", "c", "u", 0, "d"),
        ("a", "p", "d", "u", 0, "d"), ("b", "p", "c", "u", 0, "d"),
        ("b", "p", "d", "u", 0, "d"), ("c", "p", "d", "u", 0, "d"),
        ("d", "p", "e", "u", 0, "d"), ("e", "p", "f", "u", 0, "d"),
    ]
    got = {r["node"]: r["degree"] for r in kcore(_edges(spark, rows)).collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3}


def test_kcore_empty_result(spark):
    # a plain triangle has no 4-core
    rows = [
        ("a", "p", "b", "u", 0, "d"), ("b", "p", "c", "u", 0, "d"),
        ("a", "p", "c", "u", 0, "d"),
    ]
    assert kcore(_edges(spark, rows), k=4).collect() == []


def test_sameas_candidates_hand(spark):
    """x and y share neighbors {m1, m2} and have no others: Jaccard 1.0.
    Symmetrically m1/m2 share {x, y} (m1 also sees z): J = 2/3. z shares
    only m1 with x/y: J(x,z) = 1/3 < 0.5 — filtered."""
    rows = [
        ("x", "p", "m1", "u", 0, "d"), ("x", "p", "m2", "u", 0, "d"),
        ("y", "p", "m1", "u", 0, "d"), ("y", "p", "m2", "u", 0, "d"),
        ("z", "p", "m1", "u", 0, "d"), ("z", "p", "q", "u", 0, "d"),
    ]
    got = [
        (r["e1"], r["e2"], r["jaccard"])
        for r in sameas_candidates(_edges(spark, rows)).collect()
    ]
    assert got == [("x", "y", 1.0), ("m1", "m2", 0.666667)]


def test_sameas_hot_mid_capped(spark):
    """A mid node above the degree cap generates NO candidates through
    itself: pairs sharing only the hub are dropped (documented recall
    tradeoff), pairs with another sub-cap shared neighbor survive with the
    EXACT Jaccard counted over the full adjacency including the hub."""
    rows = [("hub", "p", f"n{i}", "u", 0, "d") for i in range(70)]
    rows += [
        ("n0", "p", "m", "u", 0, "d"),
        ("n1", "p", "m", "u", 0, "d"),
    ]
    got = [
        (r["e1"], r["e2"], r["jaccard"])
        for r in sameas_candidates(_edges(spark, rows), threshold=0.2).collect()
    ]
    # n0/n1 found via m; their full neighborhoods are {hub, m} both → J=1.0.
    # n2..n69 pairs share only the capped hub → absent despite J=1.0; the
    # (hub, m) wedge pair through sub-cap mids fails the threshold (2/70).
    assert got == [("n0", "n1", 1.0)]


def test_edge_latest_hand(spark):
    rows = [
        ("a", "acquired", "b", "u_old", 100, "d1"),
        ("a", "acquired", "b", "u_new", 500, "d2"),
        ("a", "acquired", "b", "u_tie", 500, "d2"),  # ts tie → max url wins
        ("x", "founded", "y", "u_x", 900, "d3"),
    ]
    got = [tuple(r) for r in edge_latest(_edges(spark, rows)).collect()]
    assert got == [
        ("x", "founded", "y", 1, 900, "u_x"),
        ("a", "acquired", "b", 3, 500, "u_tie"),
    ]


@pytest.mark.parametrize(
    ("pred", "want"),
    [
        ("acquired", "acquire"),
        ("has acquired", "acquire"),
        ("purchases", "acquire"),
        ("bought", "acquire"),
        ("is a", "is a"),  # copular: aux is NOT stripped down to the article
        ("invested in", "invest in"),
        ("works at", "work at"),
        ("was founded", "found"),
        ("established", "found"),
        ("headquartered", "locate"),
        ("serves as", "serve as"),
        ("collaborated", "partner"),
        ("frobnicated", "frobnicated"),  # out-of-dictionary: unchanged
    ],
)
def test_canonicalize_pred(pred, want):
    assert canonicalize_pred(pred) == want


def test_pred_canon_broadcast_plan(spark):
    """The canonical-predicate map must come back as a BROADCAST hash join:
    the edge stream side never shuffles for this stage."""
    rows = [
        ("a", "acquired", "b", "u", 0, "d"),
        ("a", "purchased", "b", "u", 1, "d"),
        ("a", "bought", "b", "u", 2, "d"),
    ]
    df = canonicalize_predicates(_edges(spark, rows))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    got = {r["pred"]: r["canon_pred"] for r in df.collect()}
    assert got == {"acquired": "acquire", "purchased": "acquire", "bought": "acquire"}


def test_pred_canon_keeps_null_predicate_rows(spark):
    """A NULL predicate next to a real one is not part of the predicate
    map (the sorted distinct collect cannot compare it): its row passes
    through the left join with a NULL canon_pred."""
    rows = [("a", "acquired", "b", "u", 0, "d"), ("a", None, "b", "u", 1, "d")]
    got = sorted(
        (r["pred"] or "", r["canon_pred"])
        for r in canonicalize_predicates(_edges(spark, rows)).collect()
    )
    assert got == [("", None), ("acquired", "acquire")]


def test_lpa_early_exit_preserves_semantics(spark):
    """Runs of more than 5 rounds, which checkpoint the labels every other
    round, equal the direct synchronous simulation run for exactly that
    many rounds: for BOTH a converging graph and a period-2 oscillator
    (bipartite star), at an even and an odd round count."""
    def simulate(pairs, iterations):
        adj = {}
        for u, v in pairs:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        labels = {n: n for n in adj}
        for _ in range(iterations):
            labels = {
                n: min(
                    ((-sum(1 for m in nbrs if labels[m] == l), l)
                     for l in {labels[m] for m in nbrs})
                )[1]
                for n, nbrs in adj.items()
            }
        sizes = {}
        for l in labels.values():
            sizes[l] = sizes.get(l, 0) + 1
        return sizes

    graphs = [
        # clique + bridge: converges within a few rounds, so the later
        # rounds, checkpointed or not, must leave the labels unchanged
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"), ("d", "e")],
        # star: period-2 oscillator → 9 and 10 rounds end in opposite
        # phases, and each must match the simulation's phase
        [("hub", f"n{i}") for i in range(4)],
    ]
    for pairs in graphs:
        for iterations in (9, 10):
            df = _edges(spark, [(u, "p", v, "u", 0, "d") for u, v in pairs])
            got = {
                r["community"]: r["size"]
                for r in label_propagation(df, iterations=iterations, k=100).collect()
            }
            assert got == simulate(pairs, iterations), (pairs, iterations)


def test_derived_relation_helpers_match_python_count(spark):
    """directed_pairs, both_ways and endpoint_degree against a pure-Python
    count, on a graph with a duplicate edge, both orientations of one
    edge, a self-loop and NULL endpoints."""
    from collections import Counter

    from kgforge.graph.analytics import both_ways, directed_pairs, endpoint_degree

    rows = [
        ("d1", "a", "b"), ("d1", "a", "b"), ("d1", "b", "a"), ("d1", "c", "c"),
        ("d1", "a", None), ("d2", None, "b"), ("d2", "b", "c"), ("d2", "c", "c"),
    ]
    df = spark.createDataFrame(rows, "day string, subj_id string, obj_id string")

    got = [(r["src"], r["dst"]) for r in directed_pairs(df).collect()]
    assert sorted(got) == [("a", "b"), ("b", "a"), ("b", "c")]

    bw = both_ways(df, "subj_id", "obj_id").collect()
    assert len(bw) == 2 * len(rows)
    assert Counter((r["node"], r["nbr"]) for r in bw) == Counter(
        [(s, o) for _, s, o in rows] + [(o, s) for _, s, o in rows]
    )

    want = Counter()
    for d, s, o in rows:
        for node in (s, o):
            if node is not None:
                want[(d, node)] += 1
    deg = endpoint_degree(df, "subj_id", "obj_id", "day")
    assert deg.columns == ["day", "node", "degree"]
    assert {(r["day"], r["node"]): r["degree"] for r in deg.collect()} == want
    assert want[("d1", "c")] == 2  # the self-loop counts twice


def test_entity_profile_approx_tracks_exact(spark):
    """The HLL twin of the profile table (round-5, BACKLOG #12) must agree
    with the exact profile on every exact column and estimate n_preds
    within HLL tolerance (exact in sparse mode at these cardinalities)."""
    from kgforge.graph.analytics import (
        entity_profile_table,
        entity_profile_table_approx,
    )

    rows = [
        ("hub", f"pred{i % 7}", f"n{i}", "u", i, f"2025-01-{1 + i % 9:02d}")
        for i in range(60)
    ]
    rows += [(f"m{i}", "supplies", "hub", "u", 0, "2025-01-05") for i in range(15)]
    e = _edges(spark, rows)
    exact = {
        r["node"]: tuple(r)
        for r in entity_profile_table(e).collect()
    }
    est = {
        r["node"]: tuple(r)
        for r in entity_profile_table_approx(e).collect()
    }
    assert set(est) == set(exact)
    for node, (_, out_e, in_e, n_preds, lo, hi) in exact.items():
        _, out_a, in_a, n_est, lo_a, hi_a = est[node]
        assert (out_a, in_a, lo_a, hi_a) == (out_e, in_e, lo, hi)
        assert abs(n_est - n_preds) <= max(1, 0.05 * n_preds), (node, n_est, n_preds)


def test_daily_active_nodes_approx_tracks_exact(spark):
    """Per-day distinct-node rollup: the sketch path must track the exact
    count within HLL tolerance on a skewed multi-day fixture."""
    from kgforge.graph.analytics import (
        daily_active_nodes,
        daily_active_nodes_approx,
    )

    rows = []
    for d in range(6):
        day = f"2025-02-{d + 1:02d}"
        # hot entity present every day + a per-day cohort with overlap
        rows += [("hub", "p", f"n{d}_{i}", "u", 0, day) for i in range(10 + d * 5)]
        rows += [(f"n{d}_{i}", "p", "hub", "u", 0, day) for i in range(5)]
    e = _edges(spark, rows)
    exact = {r["day"]: r["n_nodes"] for r in daily_active_nodes(e).collect()}
    est = {
        r["day"]: r["n_nodes_est"] for r in daily_active_nodes_approx(e).collect()
    }
    assert set(est) == set(exact)
    for day, want in exact.items():
        assert abs(est[day] - want) <= max(1, 0.05 * want), (day, est[day], want)


def test_lpa_broadcast_layout_equivalence(spark, monkeypatch):
    """The adaptive label-broadcast layout (round-6) must be invisible:
    LPA under the node-count cap (broadcast path, node-partitioned static
    table, zero-exchange rounds) and with the cap forced to 0 (fallback
    nbr layout, per-round label shuffle) must produce identical
    communities on a fixture with ties, a bridge, and an isolated pair."""
    rows = [
        ("a", "p", "b", "u", 0, "d"),
        ("a", "p", "c", "u", 0, "d"),
        ("b", "p", "c", "u", 0, "d"),
        ("c", "p", "d", "u", 0, "d"),
        ("d", "p", "e", "u", 0, "d"),
        ("x", "p", "y", "u", 0, "d"),
    ]
    e = _edges(spark, rows)
    fast = [tuple(r) for r in label_propagation(e, k=100).collect()]
    monkeypatch.setenv("KGFORGE_LPA_BROADCAST_NODES", "0")
    slow = [tuple(r) for r in label_propagation(e, k=100).collect()]
    assert fast == slow
    assert sum(n for _, n in fast) == 7

"""Property-path reachability (kgforge/graph/paths.py) vs a brute-force
BFS oracle: cycles, self-loops, multigraph duplicate edges, predicate
alternation, hop windows (pred+ / pred* / pred{2,k}), and guards."""

from collections import deque

import pytest

from kgforge.graph.paths import reachable_from

EDGES = [
    # a chain a -> b -> c -> d with a cycle back d -> a
    ("a", "owns", "b"),
    ("b", "owns", "c"),
    ("c", "owns", "d"),
    ("d", "owns", "a"),
    # duplicate assertion of the same edge (multigraph input)
    ("a", "owns", "b"),
    # a self-loop
    ("s", "owns", "s"),
    ("a", "owns", "s"),
    # a second predicate splitting off the chain
    ("b", "rents", "x"),
    ("x", "rents", "y"),
    # an unreachable island
    ("p", "owns", "q"),
]


def bfs_oracle(edges, source, preds, max_hops, min_hops=1):
    adj = {}
    for s, p, o in edges:
        if preds is None or p in preds:
            adj.setdefault(s, set()).add(o)
        if preds is not None and "^" + p in preds:
            adj.setdefault(o, set()).add(s)
    dist = {}
    q = deque([(source, 0)])
    while q:
        n, d = q.popleft()
        if d >= max_hops:
            continue
        for m in adj.get(n, ()):
            if m not in dist:
                dist[m] = d + 1
                q.append((m, d + 1))
    out = {n: d for n, d in dist.items() if d >= min_hops}
    if min_hops == 0:
        out[source] = 0
    return out


def _df(spark):
    return spark.createDataFrame(
        EDGES, "subj_id string, pred string, obj_id string"
    )


CASES = [
    ("a", ["owns"], 8, 1),   # full cycle back to a
    ("a", ["owns"], 2, 1),   # truncated by max_hops
    ("a", None, 8, 1),       # any predicate: picks up the rents branch
    ("b", ["owns", "rents"], 8, 1),  # explicit alternation
    ("s", ["owns"], 3, 1),   # self-loop: s reaches itself at hop 1
    ("q", ["owns"], 4, 1),   # sink: empty result
    ("a", ["owns"], 8, 0),   # pred*: source at hop 0
    ("a", ["owns"], 8, 2),   # pred{2,8}: hop-1 nodes filtered out
    ("d", ["^owns"], 8, 1),  # inverse: who transitively owns d
    ("y", ["^rents"], 8, 1), # inverse up the rents chain
    ("b", ["owns", "^owns"], 8, 1),  # undirected closure of owns
    ("x", ["rents", "^owns"], 2, 1),  # mixed directions, truncated
    ("a", None, 12, 1),      # past one plan's 8 hops: the cone is spent
]


@pytest.mark.parametrize("source,preds,max_hops,min_hops", CASES)
def test_reachable_matches_bfs(spark, source, preds, max_hops, min_hops):
    got = {
        r["node"]: r["hops"]
        for r in reachable_from(
            _df(spark), source, preds, max_hops=max_hops, min_hops=min_hops
        ).collect()
    }
    assert got == bfs_oracle(EDGES, source, preds, max_hops, min_hops)


@pytest.mark.parametrize("max_hops,min_hops", [(8, 1), (9, 1), (18, 2), (30, 0)])
def test_long_walk_crosses_plan_blocks(spark, max_hops, min_hops):
    """A 20-hop chain with a shortcut and a cycle back to its start: the
    walk continues past each 8-hop plan block with the right distances."""
    edges = [(f"c{i}", "next", f"c{i + 1}") for i in range(20)]
    edges += [("c3", "next", "c12"), ("c20", "next", "c0")]
    df = spark.createDataFrame(edges, "subj_id string, pred string, obj_id string")
    got = {
        r["node"]: r["hops"]
        for r in reachable_from(
            df, "c0", "next", max_hops=max_hops, min_hops=min_hops
        ).collect()
    }
    assert got == bfs_oracle(edges, "c0", ["next"], max_hops, min_hops)


def test_single_pred_string_equals_list(spark):
    df = _df(spark)
    a = sorted(map(tuple, reachable_from(df, "a", "owns").collect()))
    b = sorted(map(tuple, reachable_from(df, "a", ["owns"]).collect()))
    assert a == b


def test_source_only_in_result_via_cycle(spark):
    # pred+ includes the source iff a cycle returns to it
    got = {r["node"] for r in reachable_from(_df(spark), "a", "owns").collect()}
    assert "a" in got  # d -> a closes the cycle
    got_b = {
        r["node"]
        for r in reachable_from(_df(spark), "b", "rents").collect()
    }
    assert got_b == {"x", "y"}  # no cycle: b absent


def test_guards(spark):
    df = _df(spark)
    with pytest.raises(ValueError, match="max_hops"):
        reachable_from(df, "a", "owns", max_hops=0)
    with pytest.raises(ValueError, match="min_hops"):
        reachable_from(df, "a", "owns", max_hops=3, min_hops=4)
    with pytest.raises(ValueError, match="empty preds"):
        reachable_from(df, "a", [], max_hops=3)


def test_literal_caret_predicate_escape(spark):
    # a data-derived predicate literally named "^owns" is queryable
    # FORWARD via the backslash escape; unescaped "^owns" inverts the
    # plain "owns" predicate instead
    edges = EDGES + [("a", "^owns", "k"), ("k", "^owns", "m")]
    df = spark.createDataFrame(
        edges, "subj_id string, pred string, obj_id string"
    )
    got = {
        (r["node"], r["hops"])
        for r in reachable_from(df, "a", ["\\^owns"], max_hops=8).collect()
    }
    assert got == {("k", 1), ("m", 2)}
    # unescaped: inverse of "owns" from a → d (d owns a), c, b, a-cycle
    inv = {
        r["node"]
        for r in reachable_from(df, "a", ["^owns"], max_hops=8).collect()
    }
    assert inv == {"d", "c", "b", "a"}


def test_inverse_equals_forward_on_reversed_graph(spark):
    # ^pred from n equals pred from n on the edge-reversed graph
    rev = [(o, p, s) for s, p, o in EDGES]
    got_inv = {
        (r["node"], r["hops"])
        for r in reachable_from(_df(spark), "d", "^owns", max_hops=8).collect()
    }
    rdf = spark.createDataFrame(
        rev, "subj_id string, pred string, obj_id string"
    )
    got_fwd = {
        (r["node"], r["hops"])
        for r in reachable_from(rdf, "d", "owns", max_hops=8).collect()
    }
    assert got_inv == got_fwd and got_inv

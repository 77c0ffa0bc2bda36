"""Property-based gates for the serving-query algebra: on RANDOM small
multigraphs (hypothesis-generated edge lists over 2 predicates — NOT the
fixture distribution), the WCOJ cyclic matcher, property-path
reachability, and NOT EXISTS must agree with independent brute-force
implementations written here (the same discipline as
test_properties_graph.py), and a BGP over the distinct serving snapshot
(no per-pattern dedup) must equal its first-sighting result. Spark
round-trips are slow, so examples are capped and deadlines disabled; the
graphs stay small but cover multi-edges, self-loops, hubs, and
disconnected pieces."""

import itertools
import tempfile
from collections import Counter, deque

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from kgforge.graph.bgp import match_bgp, match_bgp_not_exists
from kgforge.graph.paths import reachable_from
from kgforge.graph.serving import serving_edges
from kgforge.graph.wcoj import match_bgp_cycle

NODES = [f"n{i}" for i in range(8)]
PREDS = ["p", "q"]

edge_lists = st.lists(
    st.tuples(
        st.sampled_from(NODES), st.sampled_from(PREDS), st.sampled_from(NODES)
    ),
    min_size=1,
    max_size=20,
)

SERVE_SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, triples):
    return spark.createDataFrame(
        triples, "subj_id string, pred string, obj_id string"
    )


def _oracle_bgp(edges, patterns):
    out = set()
    for combo in itertools.product(set(edges), repeat=len(patterns)):
        bind = {}
        ok = True
        for (s, p, o), pat in zip(combo, patterns):
            for val, term in zip((s, p, o), pat):
                if isinstance(term, list):  # alternation
                    if val not in term:
                        ok = False
                        break
                elif term.startswith("?"):
                    if bind.setdefault(term[1:], val) != val:
                        ok = False
                        break
                elif val != term:
                    ok = False
                    break
            if not ok:
                break
        if ok:
            out.add(tuple(sorted(bind.items())))
    return out


CYCLE = [("?a", "p", "?b"), ("?b", "q", "?c"), ("?c", "p", "?a")]


@given(edges=edge_lists)
@SERVE_SETTINGS
def test_wcoj_cycle_matches_brute_force(spark, edges):
    got = match_bgp_cycle(_df(spark, edges), CYCLE, shares=2)
    rows = set(tuple(sorted(zip(got.columns, r))) for r in got.collect())
    assert rows == _oracle_bgp(edges, CYCLE)


@given(edges=edge_lists, src=st.sampled_from(NODES), hops=st.integers(1, 4))
@SERVE_SETTINGS
def test_reachable_matches_bfs(spark, edges, src, hops):
    preds = ["p", "^q"]
    adj = {}
    for s, p, o in edges:
        if p in preds:
            adj.setdefault(s, set()).add(o)
        if "^" + p in preds:
            adj.setdefault(o, set()).add(s)
    dist = {}
    dq = deque([(src, 0)])
    while dq:
        n, d = dq.popleft()
        if d >= hops:
            continue
        for m in adj.get(n, ()):
            if m not in dist:
                dist[m] = d + 1
                dq.append((m, d + 1))
    got = {
        (r["node"], r["hops"])
        for r in reachable_from(
            _df(spark, edges), src, preds, max_hops=hops
        ).collect()
    }
    assert got == set(dist.items())


NE_REQUIRED = [("?x", "p", "?y")]
NE_NEGATIVE = [("?y", "q", "?z")]


@given(edges=edge_lists)
@SERVE_SETTINGS
def test_not_exists_matches_brute_force(spark, edges):
    neg = _oracle_bgp(edges, NE_NEGATIVE)
    want = set()
    for sol in _oracle_bgp(edges, NE_REQUIRED):
        s = dict(sol)
        if not any(
            all(s[k] == v for k, v in dict(n).items() if k in s) for n in neg
        ):
            want.add(sol)
    got = match_bgp_not_exists(_df(spark, edges), NE_REQUIRED, NE_NEGATIVE)
    rows = set(tuple(sorted(zip(got.columns, r))) for r in got.collect())
    assert rows == want


SNAPSHOT_BGPS = [
    [("?x", "p", "?y"), ("?y", "q", "?z")],  # chain
    [("?x", "p", "?y"), ("?x", "q", "?z"), ("?x", "p", "n0")],  # star
    [("?x", "p", "?x")],  # repeated variable
    [("?x", "?r", "?y"), ("?y", "q", "?x")],  # variable predicate
    [("?x", ["p", "q"], "?y")],  # alternation
    [("?x", ["p", "q"], "?y"), ("?y", "p", "?z")],  # alternation in a chain
]


@given(
    edges=edge_lists,
    repeats=st.integers(1, 20),
    twins=st.integers(1, 5),
    patterns=st.sampled_from(SNAPSHOT_BGPS),
)
@SERVE_SETTINGS
def test_bgp_over_a_snapshot_matches_first_sighting(
    spark, tmp_path, edges, repeats, twins, patterns
):
    """Repeated assertions reach the first sighting; the snapshot holds
    each once. Both results equal the brute-force twin as multisets. A
    twin is an edge restated under the other predicate, the pair an
    alternation term projects to one binding twice."""
    path = tempfile.mkdtemp(dir=tmp_path)  # one table version per example
    flip = {"p": "q", "q": "p"}
    rows = edges + edges[:repeats] + [(s, flip[p], o) for s, p, o in edges[:twins]]
    _df(spark, rows).write.mode("overwrite").parquet(path)
    frame = spark.read.parquet(path)
    want = Counter(_oracle_bgp(rows, patterns))
    first = match_bgp(frame, patterns)
    assert serving_edges(frame) is not frame
    again = match_bgp(frame, patterns)
    for got in (first, again):
        assert Counter(tuple(sorted(zip(got.columns, r))) for r in got.collect()) == want

"""Property-based gates for the serving-query algebra: on RANDOM small
multigraphs (hypothesis-generated edge lists over 2 predicates — NOT the
fixture distribution), the WCOJ cyclic matcher, property-path
reachability, and NOT EXISTS must agree with independent brute-force
implementations written here (the same discipline as
test_properties_graph.py), a BGP over the distinct serving snapshot
(no per-pattern dedup) must equal its first-sighting result, and a small
version served in one partition must answer BGPs, reaches and windows
with the rows of the same version served in many. Spark
round-trips are slow, so examples are capped and deadlines disabled; the
graphs stay small but cover multi-edges, self-loops, hubs, and
disconnected pieces."""

import itertools
import tempfile
from collections import Counter, deque

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from kgforge.graph import serving
from kgforge.graph.bgp import match_bgp, match_bgp_not_exists
from kgforge.graph.paths import reachable_from
from kgforge.graph.serving import committed_read, serving_edges
from kgforge.graph.temporal import window_subgraph_topk
from kgforge.io.tables import write_table
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


DAYS = ["2025-01-01", "2025-01-02", "2025-01-03"]
# a 12-edge chain from n0, so a reach crosses reachable_from's 8-hop cut
CHAIN = [("n0", "p", "c1", DAYS[0])] + [
    (f"c{i}", "p", f"c{i + 1}", DAYS[i % 3]) for i in range(1, 12)
]


def _version(spark, tmp_path, rows, one_partition):
    """A committed day table of ``rows``, read once and sighted twice,
    and its committed read: both in one partition, or made with the
    one-task bound below their size estimate and adaptive coalescing off,
    so both keep their partitions."""
    path = tempfile.mkdtemp(dir=tmp_path)
    write_table(
        spark.createDataFrame(rows, "subj_id string, pred string, obj_id string, day string"),
        path, "edges", ["day"],
    )
    frame = spark.read.parquet(path)
    bound, key = serving.ONE_TASK_BYTES, "spark.sql.adaptive.coalescePartitions.enabled"
    if not one_partition:
        serving.ONE_TASK_BYTES = -1
        spark.conf.set(key, "false")
    try:
        serving_edges(frame)
        served = (serving_edges(frame), committed_read(spark, path))
    finally:
        serving.ONE_TASK_BYTES = bound
        spark.conf.unset(key)
    partitions = [df._jdf.rdd().getNumPartitions() for df in served]
    assert all((n == 1) == one_partition for n in partitions), partitions
    return frame, path


@given(
    edges=st.lists(
        st.tuples(st.sampled_from(NODES), st.sampled_from(PREDS),
                  st.sampled_from(NODES), st.sampled_from(DAYS)),
        min_size=1, max_size=20,
    ),
    patterns=st.sampled_from(SNAPSHOT_BGPS[:2] + SNAPSHOT_BGPS[4:]),
    src=st.sampled_from(NODES),
    window=st.sampled_from([(DAYS[0], DAYS[1]), (DAYS[1], DAYS[2]), (DAYS[0], DAYS[2])]),
)
@settings(SERVE_SETTINGS, max_examples=5)
def test_one_partition_version_matches_many(spark, tmp_path, edges, patterns, src, window):
    """BGP chains, stars and alternations, reaches with ``min_hops=0``
    and past the 8-hop cut, and a window give equal multisets of rows
    over a one-partition version and a many-partition one."""
    rows = edges + CHAIN
    sides = [_version(spark, tmp_path, rows, one) for one in (True, False)]

    def answers(frame, path):
        return [
            Counter(tuple(r) for r in df.collect())
            for df in (
                match_bgp(frame, patterns),
                reachable_from(frame, src, ["p", "^q"], max_hops=4, min_hops=0),
                reachable_from(frame, "n0", "p", max_hops=12),
                window_subgraph_topk(spark, path, *window, k=len(rows)),
            )
        ]

    one, many = (answers(*side) for side in sides)
    assert one == many
    assert one[2][("c12", 12)] == 1  # the walk went on past the cut

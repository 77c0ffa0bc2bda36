"""Stage-4/5 gates: entity linking determinism + correctness, and
connected components vs a pure-Python union-find oracle."""

import hashlib

import pytest

from kgforge.fixtures.gen import gen_alias_rows
from kgforge.graph.cc import connected_components
from kgforge.linking.embed import cosine, embed
from kgforge.stages.link import (
    alias_resolution,
    link,
    link_with_map,
    mentions,
    same_as_edges,
)

N_DOCS = 300


def test_embed_deterministic_and_similarity_ranks():
    a = embed("acme corp 3")
    b = embed("acme corp 3")
    assert (a == b).all()
    assert abs(cosine(a, b) - 1.0) < 1e-9
    # closer surface form scores higher
    near = cosine(embed("acme corp"), embed("acme corp 3"))
    far = cosine(embed("acme corp"), embed("zenith marine 88"))
    assert near > far


@pytest.fixture(scope="module")
def alias_df(spark):
    rows = [
        (r["alias"], r["entity_id"], r["canon"], r["prior"])
        for r in gen_alias_rows(N_DOCS)
    ]
    return spark.createDataFrame(
        rows, "alias string, entity_id string, canon string, prior double"
    ).cache()


def test_link_exact_and_unmatched(spark, alias_df):
    first = alias_df.first()
    m = spark.createDataFrame(
        [(first["alias"],), ("never seen mention xyz",)], "mention string"
    )
    got = {r["mention"]: r for r in link(m, alias_df).collect()}
    assert len(got) == 2  # exactly one row per mention
    linked = got[first["alias"]]
    assert linked["entity_id"].startswith(("E", "D"))
    assert linked["score"] > 0
    unmatched = got["never seen mention xyz"]
    expected_id = "M#" + hashlib.md5(b"never seen mention xyz").hexdigest()[:12]
    assert unmatched["entity_id"] == expected_id
    assert unmatched["canon"] == "never seen mention xyz"


def test_link_collision_resolved_deterministically(spark, alias_df):
    # find an alias mapping to >1 entity (collision fixture guarantees some)
    from pyspark.sql import functions as F

    coll = (
        alias_df.groupBy("alias")
        .agg(F.countDistinct("entity_id").alias("n"))
        .where("n > 1")
        .limit(1)
        .collect()
    )
    assert coll, "fixture must contain alias collisions"
    alias = coll[0]["alias"]
    m = spark.createDataFrame([(alias,)], "mention string")
    r1 = link(m, alias_df).collect()
    r2 = link(m, alias_df).collect()
    assert len(r1) == 1 and r1 == r2  # top-1, deterministic across runs


def test_same_as_edges_only_true_duplicates(spark, alias_df):
    edges = same_as_edges(alias_df).collect()
    assert edges, "fixture must contain sameAs duplicate registrations"
    rows = {(r["src"], r["dst"]) for r in edges}
    # every pair shares canon by construction: E<ix> ~ D<ix>
    for src, dst in rows:
        assert src[1:] == dst[1:] and {src[0], dst[0]} == {"D", "E"}


class _UnionFind:
    def __init__(self):
        self.p = {}

    def find(self, x):
        self.p.setdefault(x, x)
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[max(ra, rb)] = min(ra, rb)


def _oracle_components(pairs):
    uf = _UnionFind()
    for a, b in pairs:
        uf.union(a, b)
    return {n: uf.find(n) for n in list(uf.p)}


@pytest.mark.parametrize("threshold", [200_000, 0])  # driver path + star path
@pytest.mark.parametrize(
    "pairs",
    [
        [("b", "a"), ("b", "c"), ("c", "d")],  # chain
        [("hub", f"n{i:02d}") for i in range(12)],  # star
        [("a", "b"), ("x", "y"), ("y", "z"), ("p", "q")],  # 3 components
    ],
)
def test_cc_small_graphs(spark, pairs, threshold):
    e = spark.createDataFrame(pairs, "src string, dst string")
    got = {
        r["node"]: r["component"]
        for r in connected_components(e, driver_threshold=threshold).collect()
    }
    want = _oracle_components(pairs)
    assert got == want


@pytest.mark.parametrize("threshold", [200_000, 0])
def test_cc_random_graph_matches_union_find(spark, threshold):
    import random

    rng = random.Random(7)
    nodes = [f"n{i:03d}" for i in range(200)]
    pairs = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(150)
    ]
    pairs = [(a, b) for a, b in pairs if a != b]
    e = spark.createDataFrame(pairs, "src string, dst string")
    got = {
        r["node"]: r["component"]
        for r in connected_components(e, driver_threshold=threshold).collect()
    }
    want = _oracle_components(pairs)
    assert got == want


def test_cc_empty(spark):
    e = spark.createDataFrame([], "src string, dst string")
    assert connected_components(e).collect() == []


def test_cc_small_path_never_counts(spark, monkeypatch):
    """The driver path is decided by one bounded collect: no count() job."""
    e = spark.createDataFrame([("b", "a"), ("c", "b")], "src string, dst string")

    def no_count(self):
        raise AssertionError("connected_components counted the edge set")

    # PySpark 4's classic DataFrame is a subclass: patch the concrete class
    monkeypatch.setattr(type(e), "count", no_count)
    got = {r["node"]: r["component"] for r in connected_components(e).collect()}
    assert got == {"a": "a", "b": "a", "c": "a"}


@pytest.mark.parametrize("threshold", [200_000, 0])  # driver path + star path
def test_cc_drops_null_endpoint_edges(spark, threshold):
    """An edge with a NULL endpoint joins nothing: no NULL node comes back,
    and the labels equal the union-find oracle over the other edges."""
    pairs = [("b", "a"), ("c", "b"), (None, "c"), ("d", None), ("x", "y")]
    e = spark.createDataFrame(pairs, "src string, dst string")
    got = {
        r["node"]: r["component"]
        for r in connected_components(e, driver_threshold=threshold).collect()
    }
    assert None not in got
    assert got == _oracle_components(
        [(a, b) for a, b in pairs if a is not None and b is not None]
    )


@pytest.mark.parametrize("threshold,driver", [(4, True), (3, False)])
def test_cc_threshold_boundary(spark, monkeypatch, threshold, driver):
    """4 distinct non-loop edges (plus a duplicate and a self-loop, both
    dropped before the path decision): threshold 4 takes the driver path,
    3 the star rounds; both equal the union-find oracle."""
    import kgforge.graph.cc as cc

    pairs = [("a", "b"), ("b", "c"), ("d", "e"), ("e", "f"), ("a", "b"), ("c", "c")]
    calls = []
    orig = cc._driver_union_find

    def spy(*args):
        calls.append(1)
        return orig(*args)

    monkeypatch.setattr(cc, "_driver_union_find", spy)
    e = spark.createDataFrame(pairs, "src string, dst string")
    got = {
        r["node"]: r["component"]
        for r in connected_components(e, driver_threshold=threshold).collect()
    }
    assert got == _oracle_components(pairs)
    assert bool(calls) == driver


def test_link_is_best_entity_through_cc(spark, alias_df):
    """``link`` gives each distinct mention its alias's best entity; that
    entity pushed through the sameAs components is ``alias_resolution``'s
    canon_id, with the same score (what ``link_with_map`` relies on)."""
    aliases = sorted(r["alias"] for r in alias_df.select("alias").distinct().collect())
    unseen = "never seen mention xyz"
    m = spark.createDataFrame(
        [(a,) for a in aliases] + [(aliases[0],), (unseen,)], "mention string"
    )
    linked = link(m, alias_df).collect()
    assert len(linked) == len(aliases) + 1  # one row per distinct mention
    by_mention = {r["mention"]: r for r in linked}
    comp = {
        r["node"]: r["component"]
        for r in connected_components(same_as_edges(alias_df)).collect()
    }
    amap = {r["alias"]: r for r in alias_resolution(alias_df).collect()}
    for a in aliases:
        r = by_mention[a]
        assert comp.get(r["entity_id"], r["entity_id"]) == amap[a]["canon_id"], a
        assert r["score"] == amap[a]["score"], a
    via_map = {
        r["mention"]: r
        for r in link_with_map(m.distinct(), alias_resolution(alias_df)).collect()
    }
    assert set(via_map) == set(by_mention)
    for mention, r in by_mention.items():
        assert via_map[mention]["canon_id"] == comp.get(r["entity_id"], r["entity_id"])
        assert via_map[mention]["score"] == r["score"]

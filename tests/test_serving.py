"""Serving reads of a committed edge table (kgforge/graph/serving.py and
the session's listing rule): a version is snapshotted on its second
sighting and never served after a rewrite, the snapshot table stays
bounded and drops its reference to what it evicts (a lazy result over an
evicted snapshot still collects), the first sighting keeps the pushed-
down Parquet scan, a BGP over a snapshot skips the per-pattern dedup
except for an alternation term, a small version runs in one partition
and a large one keeps its partitions, a frame already keyed to a version
skips the plan comparison but is still listed, so a refresh of its file
index is never served stale, and the serving calls over one committed
version run a pinned number of Spark jobs."""

from __future__ import annotations

import sys
import threading

from kgforge.graph import serving
from kgforge.graph.bgp import match_bgp
from kgforge.graph.paths import reachable_from
from kgforge.graph.serving import SNAPSHOTS, serving_edges
from kgforge.graph.temporal import window_subgraph_topk
from kgforge.io.tables import write_table
from kgforge.session import LOCAL_LISTING_THRESHOLD

SCHEMA = "subj_id string, pred string, obj_id string, day string"
OLD = [
    ("a", "owns", "b", "2025-01-01"),
    ("b", "owns", "c", "2025-01-02"),
    ("c", "owns", "d", "2025-01-03"),
]
NEW = [
    ("a", "owns", "x", "2025-01-01"),
    ("x", "owns", "y", "2025-01-02"),
    ("x", "owns", "y", "2025-01-02"),
]


def _write(spark, rows, path):
    write_table(spark.createDataFrame(rows, SCHEMA), path, "edges", ["day"])


def _persisted(spark) -> set[int]:
    return set(dict(spark.sparkContext._jsc.getPersistentRDDs()).keys())


def _rdd_id(df) -> int:
    """The id of the checkpointed RDD under ``df``, through the
    ``coalesce(1)`` of a small version."""
    plan = df._jdf.queryExecution().analyzed()
    while plan.nodeName() != "LogicalRDD":
        plan = plan.child()
    return plan.rdd().id()


def _partitions(df) -> int:
    return df._jdf.rdd().getNumPartitions()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _held(snap) -> bool:
    return any(v.snapshot is snap for v in serving._versions)


def _jobs(spark, group: str, call):
    """(Spark jobs, sorted rows) of collecting ``call()`` in its own job
    group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        rows = _rows(call())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), rows


def _snapshotted(spark, rows, path):
    """A committed day table at ``path``, read once and sighted twice, so
    every later serving call over the read gets its snapshot."""
    _write(spark, rows, path)
    edges = spark.read.parquet(path)
    serving_edges(edges)
    assert serving_edges(edges) is not edges
    return edges


def test_rewrite_is_never_served_stale(spark, tmp_path):
    path = str(tmp_path / "edges")
    _write(spark, OLD, path)
    old = spark.read.parquet(path)
    pattern = [("?x", "owns", "?y")]
    for _ in range(2):
        assert _rows(match_bgp(old, pattern)) == [("a", "b"), ("b", "c"), ("c", "d")]
        assert _rows(reachable_from(old, "a", "owns")) == [("b", 1), ("c", 2), ("d", 3)]
    snap = serving_edges(old)
    assert snap is not old and not snap.inputFiles()
    assert _rdd_id(snap) in _persisted(spark)

    _write(spark, NEW, path)
    new = spark.read.parquet(path)
    assert new.sameSemantics(old)  # only the file list tells the versions apart
    for _ in range(3):
        assert _rows(match_bgp(new, pattern)) == [("a", "x"), ("x", "y")]
        assert _rows(reachable_from(new, "a", "owns")) == [("x", 1), ("y", 2)]
    assert not _held(snap)


def test_first_sighting_keeps_the_pushed_down_scan(spark, tmp_path):
    path = str(tmp_path / "edges")
    _write(spark, OLD, path)
    edges = spark.read.parquet(path)
    pattern = [("?x", "owns", "?y"), ("?y", "owns", "d")]
    plans = []
    for _ in range(3):
        res = match_bgp(edges, pattern)
        assert _rows(res.select("x", "y")) == [("b", "c")]
        plans.append(_plan(res))
    assert "FileScan parquet" in plans[0]
    assert "PushedFilters: [IsNotNull(pred), EqualTo(pred,owns)" in plans[0]
    assert "FileScan" not in plans[2] and "Scan ExistingRDD" in plans[2]


def test_snapshot_table_is_bounded(spark, tmp_path):
    snaps = []
    for i in range(SNAPSHOTS + 2):
        path = str(tmp_path / f"edges{i}")
        _write(spark, OLD[: 1 + i % 3], path)
        edges = spark.read.parquet(path)
        serving_edges(edges)
        snaps.append(serving_edges(edges))
    live = _persisted(spark)
    assert len(serving._versions) == SNAPSHOTS
    assert not any(_held(s) for s in snaps[:2])
    assert all(_rdd_id(s) in live for s in snaps[2:])


def test_lazy_result_outlives_eviction(spark, tmp_path):
    """A result built over a snapshot and collected only after SNAPSHOTS
    other versions pushed that snapshot out of the table still reads it."""
    path = str(tmp_path / "kept")
    _write(spark, OLD, path)
    edges = spark.read.parquet(path)
    serving_edges(edges)
    pattern = [("?x", "owns", "?y")]
    lazy_bgp = match_bgp(edges, pattern)
    lazy_reach = reachable_from(edges, "a", "owns")
    for i in range(SNAPSHOTS):
        other = str(tmp_path / f"other{i}")
        _write(spark, NEW, other)
        frame = spark.read.parquet(other)
        serving_edges(frame)
        serving_edges(frame)
    assert all(v.frame is not edges for v in serving._versions)
    assert _rows(lazy_bgp) == [("a", "b"), ("b", "c"), ("c", "d")]
    assert _rows(lazy_reach) == [("b", 1), ("c", 2), ("d", 3)]


def test_snapshot_belongs_to_its_session(spark, tmp_path):
    path = str(tmp_path / "edges")
    _write(spark, OLD, path)
    edges = spark.read.parquet(path)
    serving_edges(edges)
    assert serving_edges(edges).sparkSession is spark
    other = spark.newSession()
    theirs = other.read.parquet(path)
    assert serving_edges(theirs) is theirs  # a first sighting in that session
    assert serving_edges(theirs).sparkSession is other


def test_one_shot_frames_pass_through(spark):
    local = spark.createDataFrame([r[:3] for r in OLD], SCHEMA.rsplit(",", 1)[0])
    checkpoint = local.localCheckpoint()
    for df in (local, checkpoint, local.select("subj_id", "obj_id")):
        assert serving_edges(df) is df and serving_edges(df) is df


def test_concurrent_sightings_build_one_snapshot(spark, tmp_path):
    """More threads than cores race on two versions: each version ends
    with exactly one snapshot, and the table never exceeds its bound."""
    frames = []
    for i in range(2):
        path = str(tmp_path / f"edges{i}")
        _write(spark, OLD, path)
        frames.append(spark.read.parquet(path))
    got = [[] for _ in frames]
    start = threading.Barrier(8)

    def hammer(k):
        start.wait(timeout=60)
        for _ in range(4):
            got[k % 2].append(serving_edges(frames[k % 2]))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=hammer, args=(k,)) for k in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(serving._versions) <= SNAPSHOTS
    for frame, results in zip(frames, got):
        assert len(results) == 16
        snaps = {id(r) for r in results if r is not frame}
        assert len(snaps) == 1 and sum(r is frame for r in results) == 1


def test_window_listing_is_fresh(spark, tmp_path):
    path = str(tmp_path / "edges")
    _write(spark, OLD, path)
    first = window_subgraph_topk(spark, path, "2025-01-01", "2025-01-03")
    assert sorted(tuple(r)[:3] for r in first.collect()) == [r[:3] for r in OLD]
    _write(spark, NEW, path)
    again = window_subgraph_topk(spark, path, "2025-01-01", "2025-01-03")
    assert sorted(tuple(r) for r in again.collect()) == [
        ("a", "owns", "x", 1), ("x", "owns", "y", 2)]


def test_local_master_lists_on_the_driver(spark):
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    assert spark.conf.get(key) == str(LOCAL_LISTING_THRESHOLD)


def test_alternation_over_a_snapshot_keeps_its_dedup(spark, tmp_path):
    """Two predicates of one alternation project the same binding: the
    pattern keeps its dedup over the snapshot, where plain patterns drop
    theirs."""
    rows = [("a", "p1", "b", "2025-01-01"), ("a", "p2", "b", "2025-01-02"),
            ("a", "p1", "b", "2025-01-03")]
    path = str(tmp_path / "edges")
    _write(spark, rows, path)
    edges = spark.read.parquet(path)
    for _ in range(3):
        got = match_bgp(edges, [("?x", ["p1", "p2"], "?y")])
        assert [tuple(r) for r in got.collect()] == [("a", "b")]
    assert serving_edges(edges) is not edges


CHAIN = [(f"n{i}", "next", f"n{i + 1}", "2025-01-01") for i in range(6)]


def _reach_jobs(spark, group, edges):
    jobs, rows = _jobs(
        spark, group, lambda: reachable_from(edges, "n0", None, max_hops=4))
    assert rows == [("n1", 1), ("n2", 2), ("n3", 3), ("n4", 4)]
    return jobs


def test_reach_over_a_snapshot_runs_few_jobs(spark, tmp_path):
    """A 4-hop reach over a small snapshotted table: one plan over one
    partition, so the pair broadcast and the result are its only jobs;
    with an exchange per hop aggregate it ran 5, and the per-hop
    checkpoint loop ran 20."""
    edges = _snapshotted(spark, CHAIN, str(tmp_path / "edges"))
    assert _partitions(serving_edges(edges)) == 1
    assert _reach_jobs(spark, "reach-small", edges) == 2


def test_large_version_keeps_its_partitions(spark, tmp_path, monkeypatch):
    """A version above the one-task bound whose snapshot is more than one
    partition (adaptive coalescing off while it is built) is not
    coalesced, and reach keeps its per-hop exchanges: 5 jobs."""
    monkeypatch.setattr(serving, "ONE_TASK_BYTES", -1)
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(key, "false")
    try:
        edges = _snapshotted(spark, CHAIN, str(tmp_path / "edges"))
    finally:
        spark.conf.unset(key)
    assert _partitions(serving_edges(edges)) > 1
    assert _reach_jobs(spark, "reach-large", edges) == 5


def test_repeated_calls_on_one_frame_skip_the_plan_key(spark, tmp_path, monkeypatch):
    """A frame object already keyed to a version skips ``semanticHash``
    on later calls, and its file list crosses the gateway as one string:
    a repeat ``serving_edges`` makes the same few round trips over 3
    files as over 30."""
    pattern = [("?x", "owns", "?y")]
    hashed = []
    semantic_hash = type(spark.range(1)).semanticHash
    monkeypatch.setattr(type(spark.range(1)), "semanticHash",
                        lambda self: hashed.append(self) or semantic_hash(self))
    client = type(spark.sparkContext._gateway._gateway_client)
    send, sent = client.send_command, [0]

    def counted(self, *a, **k):
        sent[0] += 1
        return send(self, *a, **k)

    trips = []
    for n_days in (3, 30):
        rows = [(f"n{i}", "owns", f"n{i + 1}", f"2025-01-{i + 1:02d}") for i in range(n_days)]
        path = str(tmp_path / f"edges{n_days}")
        _write(spark, rows, path)
        edges = spark.read.parquet(path)
        assert len(edges.inputFiles()) == n_days
        for _ in range(3):
            assert len(match_bgp(edges, pattern).collect()) == n_days
        assert sum(h is edges for h in hashed) == 1
        monkeypatch.setattr(client, "send_command", counted)
        sent[0] = 0
        assert serving_edges(edges) is not edges
        monkeypatch.setattr(client, "send_command", send)
        trips.append(sent[0])
    assert trips[0] == trips[1] <= 8, trips


def test_refreshed_index_is_never_served_stale(spark, tmp_path):
    """A cached frame derived from ``edges`` shares its file index, so a
    rewrite and ``refreshByPath`` re-list the index of ``edges`` itself:
    the next call on the same object answers from the new files."""
    path = str(tmp_path / "edges")
    _write(spark, OLD, path)
    edges = spark.read.parquet(path)
    pattern = [("?x", "owns", "?y")]
    for _ in range(3):
        assert _rows(match_bgp(edges, pattern)) == [("a", "b"), ("b", "c"), ("c", "d")]
    derived = edges.select("subj_id", "pred", "obj_id").cache()
    try:
        derived.count()
        _write(spark, NEW, path)
        spark.catalog.refreshByPath(path)
        assert _rows(match_bgp(edges, pattern)) == [("a", "x"), ("x", "y")]
    finally:
        derived.unpersist()


TRIANGLE = [
    ("a", "p", "b", "2025-01-01"), ("b", "q", "c", "2025-01-02"),
    ("c", "r", "a", "2025-01-03"), ("a", "p", "b", "2025-01-03"),
    ("c", "p", "d", "2025-01-02"), ("d", "q", "a", "2025-01-01"),
]


def test_bgp_over_a_snapshot_runs_no_dedup_jobs(spark, tmp_path):
    """Over the distinct snapshot a 2-pattern chain runs 2 jobs and a
    3-cycle 3; with a dedup per pattern they ran 4 and 6."""
    edges = _snapshotted(spark, TRIANGLE, str(tmp_path / "edges"))
    chain = [("?x", "p", "?y"), ("?y", "q", "?z")]
    cycle = chain + [("?z", "r", "?x")]
    got = (_jobs(spark, "chain-jobs", lambda: match_bgp(edges, chain)),
           _jobs(spark, "cycle-jobs", lambda: match_bgp(edges, cycle)))
    assert got == ((2, [("b", "a", "c"), ("d", "c", "a")]), (3, [("a", "c", "b")]))


def test_window_reuses_its_committed_read(spark, tmp_path):
    """A second window call on one committed version reuses the first
    call's parquet frame, coalesced to one partition as the version is
    small: 1 job, where a fresh read ran 3 and a reused multi-partition
    read 2."""
    path = str(tmp_path / "edges")
    _write(spark, TRIANGLE, path)

    def call():
        return window_subgraph_topk(spark, path, "2025-01-01", "2025-01-02")

    want = [("a", "p", "b", 1), ("b", "q", "c", 1), ("c", "p", "d", 1),
            ("d", "q", "a", 1)]
    assert _jobs(spark, "window-first", call)[1] == want
    assert _jobs(spark, "window-again", call) == (1, want)


def test_uncommitted_window_reads_fresh(spark, tmp_path):
    """A table with no committed manifest is read fresh on every call."""
    path = str(tmp_path / "edges")
    spark.createDataFrame(OLD, SCHEMA).write.partitionBy("day").parquet(path)
    first = window_subgraph_topk(spark, path, "2025-01-01", "2025-01-03")
    assert len(first.collect()) == 3
    new = spark.createDataFrame(NEW, SCHEMA)
    new.write.mode("overwrite").partitionBy("day").parquet(path)
    again = window_subgraph_topk(spark, path, "2025-01-01", "2025-01-03")
    assert sorted(tuple(r) for r in again.collect()) == [
        ("a", "owns", "x", 1), ("x", "owns", "y", 2)]

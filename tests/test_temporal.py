"""Temporal graph queries over the day-partitioned edge table
(kgforge.graph.temporal) — correctness vs the pure twin + the scale claim
itself: the window predicate must become a PARTITION filter so the scan
touches only in-window day directories (SURVEY.md §1.2 edges table;
round-2 verdict next-step #9)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

TIER = "sf0.001"
SF_DIR = f"/root/testdata/{TIER}"


@pytest.fixture(scope="module")
def day_edges(spark):
    import __spark_entry__ as entry

    return entry._kg_day_edges(spark, SF_DIR).cache()


def test_degree_over_time_matches_twin(spark, day_edges):
    from kgforge.fixtures.expected import (
        _alias_map,
        _degree_over_time,
        _edge_rows_with_day,
        _normalized_docs,
        _triples,
    )
    from kgforge.fixtures.gen import gen_alias_rows, gen_webdocs_rows
    from kgforge.graph.temporal import degree_over_time

    got = [tuple(r) for r in degree_over_time(day_edges).collect()]

    n_docs = 300
    norm = _normalized_docs(n_docs)
    trips = _triples(norm)
    amap = _alias_map(list(gen_alias_rows(n_docs)))
    url_day = {
        row["url"]: row["warc_ts"].strftime("%Y-%m-%d")
        for row in gen_webdocs_rows(n_docs)
    }
    want = [
        (r["day"], r["node"], r["degree"])
        for r in _degree_over_time(_edge_rows_with_day(trips, amap, url_day))
    ]
    assert got == want


def test_day_column_is_timezone_proof(spark, day_edges):
    """edges_with_day derives the UTC day from epoch seconds; a non-UTC
    session timezone must not shift partition values."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    utc_days = sorted(r["day"] for r in day_edges.select("day").distinct().collect())
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        # rebuild (cached df keeps old plan; force a fresh projection)
        import __spark_entry__ as entry

        shifted = sorted(
            r["day"]
            for r in entry._kg_day_edges(spark, SF_DIR)
            .select("day")
            .distinct()
            .collect()
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    assert shifted == utc_days


def test_window_subgraph_prunes_partitions(spark, day_edges, tmp_path):
    from kgforge.graph.temporal import (
        WINDOW_HI,
        WINDOW_LO,
        materialize_edges_by_day,
        window_subgraph_topk,
    )

    path = str(tmp_path / "edges_by_day")
    materialize_edges_by_day(day_edges, path)

    n_day_dirs = len([d for d in os.listdir(path) if d.startswith("day=")])
    n_window = len(
        [
            d
            for d in os.listdir(path)
            if d.startswith("day=") and WINDOW_LO <= d[4:] <= WINDOW_HI
        ]
    )
    assert n_window < n_day_dirs, "fixture must have out-of-window days"

    result = window_subgraph_topk(spark, path)
    plan = result._jdf.queryExecution().executedPlan().toString()
    # the day predicate must be a partition filter on the scan, not a
    # post-scan Filter — that's what makes the read ∝ window at 100 TB
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    assert "day" in seg and "2025-01-1" in seg

    # and the filtered scan must agree with an unpartitioned re-aggregation
    want = (
        day_edges.where((F.col("day") >= WINDOW_LO) & (F.col("day") <= WINDOW_HI))
        .groupBy("subj_id", "pred", "obj_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "subj_id", "pred", "obj_id")
        .limit(20)
    )
    assert [tuple(r) for r in result.collect()] == [tuple(r) for r in want.collect()]


def test_window_subgraph_matches_twin(spark, day_edges, tmp_path):
    from kgforge.fixtures.expected import (
        _alias_map,
        _edge_rows_with_day,
        _normalized_docs,
        _triples,
        _window_subgraph,
    )
    from kgforge.fixtures.gen import gen_alias_rows, gen_webdocs_rows
    from kgforge.graph.temporal import (
        WINDOW_HI,
        WINDOW_LO,
        materialize_edges_by_day,
        window_subgraph_topk,
    )

    path = str(tmp_path / "edges_by_day")
    materialize_edges_by_day(day_edges, path)
    got = [tuple(r) for r in window_subgraph_topk(spark, path).collect()]

    n_docs = 300
    norm = _normalized_docs(n_docs)
    trips = _triples(norm)
    amap = _alias_map(list(gen_alias_rows(n_docs)))
    url_day = {
        row["url"]: row["warc_ts"].strftime("%Y-%m-%d")
        for row in gen_webdocs_rows(n_docs)
    }
    want = [
        (r["subj_id"], r["pred"], r["obj_id"], r["n"])
        for r in _window_subgraph(
            _edge_rows_with_day(trips, amap, url_day), WINDOW_LO, WINDOW_HI
        )
    ]
    assert got == want


def test_window_edge_diff_matches_twin(spark, day_edges, tmp_path):
    from kgforge.fixtures.expected import (
        _alias_map,
        _edge_rows_with_day,
        _normalized_docs,
        _triples,
        _window_edge_diff,
    )
    from kgforge.fixtures.gen import gen_alias_rows, gen_webdocs_rows
    from kgforge.graph.temporal import (
        WINDOW_B_HI,
        WINDOW_B_LO,
        WINDOW_HI,
        WINDOW_LO,
        materialize_edges_by_day,
        window_edge_diff_topk,
    )

    path = str(tmp_path / "edges_by_day")
    materialize_edges_by_day(day_edges, path)
    result = window_edge_diff_topk(spark, path)
    # both scans must carry the day window as a partition filter
    plan = result._jdf.queryExecution().executedPlan().toString()
    assert plan.count("PartitionFilters: [isnotnull(day") >= 2

    got = [tuple(r) for r in result.collect()]
    n_docs = 300
    norm = _normalized_docs(n_docs)
    trips = _triples(norm)
    amap = _alias_map(list(gen_alias_rows(n_docs)))
    url_day = {
        row["url"]: row["warc_ts"].strftime("%Y-%m-%d")
        for row in gen_webdocs_rows(n_docs)
    }
    want = [
        (r["subj_id"], r["pred"], r["obj_id"], r["n"])
        for r in _window_edge_diff(
            _edge_rows_with_day(trips, amap, url_day),
            WINDOW_LO,
            WINDOW_HI,
            WINDOW_B_LO,
            WINDOW_B_HI,
        )
    ]
    assert got == want
    assert len(got) > 0, "fixture must produce window-B-only edges"


def test_materialize_bounds_file_count(spark, day_edges, tmp_path):
    """The pre-write repartition("day") bounds output files to one per day
    directory — without it every input task writes into every day dir
    (tasks × days small files, a metadata bomb at crawl scale)."""
    import glob

    from kgforge.graph.temporal import materialize_edges_by_day

    path = str(tmp_path / "edges_by_day")
    materialize_edges_by_day(day_edges, path)
    day_dirs = [d for d in os.listdir(path) if d.startswith("day=")]
    files = glob.glob(os.path.join(path, "day=*", "*.parquet"))
    assert len(files) == len(day_dirs)


def test_materialize_is_resume_idempotent(spark, day_edges, tmp_path):
    """A committed edges-by-day table is not rewritten (manifest resume)."""
    path = str(tmp_path / "edges_by_day")
    materialize = __import__(
        "kgforge.graph.temporal", fromlist=["materialize_edges_by_day"]
    ).materialize_edges_by_day
    materialize(day_edges, path)
    mtime = os.path.getmtime(os.path.join(path, "_kgforge_manifest.json"))
    materialize(day_edges, path)
    assert os.path.getmtime(os.path.join(path, "_kgforge_manifest.json")) == mtime


def test_contract_queries_share_one_materialization(spark):
    """The two temporal contract queries use ONE deterministic
    (process, tier)-keyed materialization dir — the second invocation hits
    the committed manifest and skips the rewrite (round-3 verdict
    wrong-item #2: per-invocation mkdtemp defeated the resume machinery
    and leaked temp dirs)."""
    import __spark_entry__ as entry

    p1 = entry._edges_by_day_path(SF_DIR)
    p2 = entry._edges_by_day_path(SF_DIR)
    assert p1 == p2

    entry._kg_window_subgraph(spark, SF_DIR).collect()
    manifest = os.path.join(p1, "_kgforge_manifest.json")
    assert os.path.exists(manifest)
    mtime = os.path.getmtime(manifest)
    entry._kg_edge_diff(spark, SF_DIR).collect()
    assert os.path.getmtime(manifest) == mtime, (
        "second temporal query must reuse the committed edge table"
    )


def test_degree_over_time_has_no_null_node(spark):
    """A NULL endpoint is not a node: it gets no degree row, and the
    edge's other endpoint still counts."""
    from kgforge.graph.temporal import degree_over_time

    df = spark.createDataFrame(
        [("d1", "a", "b"), ("d1", "a", None), ("d2", None, "b")],
        "day string, subj_id string, obj_id string",
    )
    got = {(r["day"], r["node"]): r["degree"] for r in degree_over_time(df).collect()}
    assert got == {("d1", "a"): 2, ("d1", "b"): 1, ("d2", "b"): 1}
